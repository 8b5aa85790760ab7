"""Catalog (versioned tables, schema evolution, time travel) and the
medallion pipeline end-to-end."""

from __future__ import annotations

import datetime as dt

from pyspark.sql import functions as F

from data_lakehouse_spark.catalog import Catalog
from data_lakehouse_spark.pipeline import MedallionPipeline


def _catalog(spark, tmp_path) -> Catalog:
    return Catalog(spark, str(tmp_path / "warehouse"))


def test_create_append_time_travel(spark, tmp_path):
    cat = _catalog(spark, tmp_path)
    cat.create_table("t", spark.createDataFrame([(1, "a")], "id long, s string"))
    cat.append("t", spark.createDataFrame([(2, "b")], "id long, s string"))
    assert cat.read("t").count() == 2
    assert cat.read("t", version=0).count() == 1  # VERSION AS OF
    snaps = cat.snapshots("t").collect()
    assert [r["operation"] for r in snaps] == ["create", "append"]


def test_overwrite_keeps_history(spark, tmp_path):
    cat = _catalog(spark, tmp_path)
    cat.create_table("t", spark.createDataFrame([(1,)], "id long"))
    cat.overwrite("t", spark.createDataFrame([(9,), (8,)], "id long"))
    assert cat.read("t").count() == 2
    assert [r["id"] for r in cat.read("t", version=0).collect()] == [1]


def test_add_column_without_rewrite(spark, tmp_path):
    """Reference semantics (schema_add_column.py / schema_verify.py):
    old rows read back NULL in the new column; idempotent DDL."""
    cat = _catalog(spark, tmp_path)
    cat.create_table(
        "ev", spark.createDataFrame([(1, "card")], "id long, pay string")
    )
    cat.add_column("ev", "payment_method", "string", comment="added later")
    cat.add_column("ev", "payment_method", "string")  # idempotent no-op
    cols = [d["col_name"] for d in cat.describe("ev")]
    assert cols == ["id", "pay", "payment_method"]
    old = cat.read("ev").collect()
    assert old[0]["payment_method"] is None
    # new writes carry the column; old rows stay NULL
    cat.append(
        "ev",
        spark.createDataFrame(
            [(2, "card", "paypal")], "id long, pay string, payment_method string"
        ),
    )
    rows = {r["id"]: r["payment_method"] for r in cat.read("ev").collect()}
    assert rows == {1: None, 2: "paypal"}
    # only one schema-change commit + no data rewrite for it
    ops = [r["operation"] for r in cat.snapshots("ev").collect()]
    assert ops == ["create", "add_column", "append"]


def test_partitioned_create(spark, tmp_path):
    cat = _catalog(spark, tmp_path)
    df = spark.createDataFrame([(1, "2024-01-01"), (2, "2024-01-02")], "id long, d string")
    cat.create_table("p", df, partition_by=["d"])
    assert cat.read("p").count() == 2
    assert set(cat.read("p").columns) == {"id", "d"}


def test_compact_small_files(spark, tmp_path):
    """OPTIMIZE: many small append files rewrite into few, rows and
    history preserved, partition layout kept."""
    cat = _catalog(spark, tmp_path)
    df0 = spark.createDataFrame([(0, "2024-01-01")], "id long, d string").repartition(4)
    cat.create_table("t", df0, partition_by=["d"])
    for i in range(1, 4):
        cat.append(
            "t",
            spark.createDataFrame(
                [(i, "2024-01-01"), (i + 100, "2024-01-02")], "id long, d string"
            ).repartition(4),
        )
    before = len(cat.read("t").inputFiles())
    stats = cat.compact("t")
    assert stats["files_before"] == before and stats["files_after"] < before
    assert cat.read("t").count() == 7
    # history: pre-compaction version still readable (time travel)
    assert cat.read("t", version=3).count() == 7
    ops = [r["operation"] for r in cat.snapshots("t").collect()]
    assert ops[-1] == "compact"
    # partition layout preserved → date filter still prunes
    pruned = cat.read("t").filter(F.col("d") == "2024-01-02")
    assert pruned.count() == 3


def test_read_json_ndjson_and_corrupt_records(spark, tmp_path):
    from pyspark.sql.types import LongType, StringType, StructType

    from data_lakehouse_spark.sources.readers import read_json

    p = tmp_path / "land.ndjson"
    p.write_text(
        '{"id": 1, "name": "a"}\n'
        '{"id": 2, "name": "b"}\n'
        "this is not json\n"
    )
    schema = StructType().add("id", LongType()).add("name", StringType())
    df = read_json(spark, str(p), schema=schema)
    rows = df.collect()
    ok = {(r["id"], r["name"]) for r in rows if r["_corrupt_record"] is None}
    assert ok == {(1, "a"), (2, "b")}
    assert sum(r["_corrupt_record"] is not None for r in rows) == 1
    # schema inference path
    assert read_json(spark, str(p)).count() == 3


def test_split_quarantine(spark):
    from data_lakehouse_spark.operators import quality

    rows = [
        (1, 10.0, "purchase"),
        (2, -5.0, "purchase"),   # negative price
        (3, 7.0, "teleport"),    # bad type
        (4, -1.0, "teleport"),   # both
        (5, None, "view"),       # NULL price → not a range violation
    ]
    df = spark.createDataFrame(rows, "id long, price double, event_type string")
    good, bad = quality.split_quarantine(
        df,
        [
            ("negative_price", F.col("price") < 0),
            ("unknown_type", ~F.col("event_type").isin("purchase", "view")),
        ],
    )
    assert {r["id"] for r in good.collect()} == {1, 5}
    reasons = {r["id"]: set(r["_quarantine_reasons"]) for r in bad.collect()}
    assert reasons == {
        2: {"negative_price"},
        3: {"unknown_type"},
        4: {"negative_price", "unknown_type"},
    }


EVENTS = "event_id long, ts timestamp, user_id long, event_type string, value double, props string"


def _batch(ids, day, typ="purchase"):
    return [
        (i, dt.datetime(2024, 1, day, 10 + (i % 5)), i % 3 + 1, typ, 10.0 * i, '{"k": 1}')
        for i in ids
    ]


def test_medallion_end_to_end_incremental(spark, tmp_path):
    cat = _catalog(spark, tmp_path)
    pipe = MedallionPipeline(spark, cat, cart_type="cart", as_of_date="2024-02-01")

    # batch 1
    raw1 = spark.createDataFrame(_batch(range(1, 6), 1), EVENTS)
    stats1 = pipe.run(raw1, "batch1.parquet")
    assert stats1["silver"]["mode"] == "create"
    assert all(v == 0 for v in stats1["silver_checks"].values())
    n1 = cat.read("silver_events").count()
    assert n1 == 5
    # write-time observed metrics rode the write job (no extra pass)
    assert stats1["silver"]["observed"]["rows_written"] == 5
    assert stats1["silver"]["observed"]["null_event_date"] == 0
    assert stats1["silver"]["observed"]["negative_price"] == 0

    # batch 2 arrives later — silver must only append the new rows
    raw2 = spark.createDataFrame(_batch(range(6, 9), 2, "view"), EVENTS)
    stats2 = pipe.run(raw2, "batch2.parquet")
    assert stats2["silver"]["mode"] == "append"
    assert cat.read("silver_events").count() == 8
    # observed metrics describe the INCREMENT, not the whole table
    assert stats2["silver"]["observed"]["rows_written"] == 3
    # bronze and gold counts come from commit metadata, not a scan, and
    # equal a full count
    assert stats2["bronze"]["total_rows"] == cat.read("bronze_events").count() == 8
    assert stats2["gold"] and stats2["gold"] == {
        n: cat.read(n).count() for n in stats2["gold"]
    }
    # re-running with no new data must not duplicate
    stats3 = pipe.ingest_bronze(
        spark.createDataFrame([], EVENTS), "empty.parquet"
    )
    pipe.build_silver()
    assert cat.read("silver_events").count() == 8

    # gold marts materialized and queryable
    assert cat.read("gold_daily_sales_summary").count() == 2
    daily = {
        r["sale_date"].isoformat(): r["total_orders"]
        for r in cat.read("gold_daily_sales_summary").collect()
    }
    assert daily == {"2024-01-01": 5, "2024-01-02": 0}

    # verification battery runs
    v = pipe.verify_bronze()
    assert v["total"].first()["n"] == 8


def test_expire_snapshots_reclaims_and_guards_time_travel(spark, tmp_path):
    """VACUUM semantics: old versions' storage is reclaimed, time travel
    to expired versions raises, retained versions stay readable."""
    import os

    import pytest

    cat = _catalog(spark, tmp_path)
    cat.create_table("t", spark.createDataFrame([(1,)], "id long"))
    cat.overwrite("t", spark.createDataFrame([(2,), (3,)], "id long"))
    cat.append("t", spark.createDataFrame([(4,)], "id long"))

    stats = cat.expire_snapshots("t", keep_last=1)
    assert stats["versions_expired"] == 2
    # v0's dir is referenced by nothing retained (v2 = v1's overwrite
    # dir + v2's append dir) -> exactly one dir reclaimed
    assert stats["dirs_deleted"] == 1
    assert stats["bytes_reclaimed"] > 0

    # current read unaffected; expired version refuses cleanly
    assert sorted(r["id"] for r in cat.read("t").collect()) == [2, 3, 4]
    with pytest.raises(ValueError, match="expired"):
        cat.read("t", version=0)
    # the snapshots metadata view shows the expiry
    assert [r["expired"] for r in cat.snapshots("t").collect()] == [
        True,
        True,
        False,
    ]
    # idempotent: nothing further to reclaim
    again = cat.expire_snapshots("t", keep_last=1)
    assert again["dirs_deleted"] == 0 and again["versions_expired"] == 0
    # on-disk: only retained dirs remain
    tdir = os.path.join(str(tmp_path / "warehouse"), "t")
    dirs = sorted(d for d in os.listdir(tdir) if os.path.isdir(os.path.join(tdir, d)))
    assert dirs == ["v00001", "v00002"]


def test_orc_roundtrip_partitioned(spark, tmp_path):
    """ORC sink/source parity: partitioned write, partition-pruned read."""
    from data_lakehouse_spark.sources.readers import read_orc
    from data_lakehouse_spark.sources.writers import replace_table

    df = spark.createDataFrame(
        [(1, "a", "2024-01-01"), (2, "b", "2024-01-02"), (3, "c", "2024-01-02")],
        "id long, s string, d string",
    )
    path = str(tmp_path / "orc_t")
    replace_table(df, path, partition_by=["d"], fmt="orc")
    back = read_orc(spark, path)
    assert sorted(r["id"] for r in back.collect()) == [1, 2, 3]

    pruned = back.filter(F.col("d") == "2024-01-02")
    assert pruned.count() == 2
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "d#" in plan[plan.index("PartitionFilters"):][:200]


def test_rename_column_resolves_old_files_by_field_id(spark, tmp_path):
    """RENAME COLUMN is manifest-only: files written under the old name
    keep resolving (stable field ids), new appends use the new name,
    and both union into one coherent read."""
    cat = _catalog(spark, tmp_path)
    cat.create_table("t", spark.createDataFrame([(1, "x")], "id long, val string"))
    cat.rename_column("t", "val", "label")
    # append AFTER the rename writes files under the new name
    cat.append("t", spark.createDataFrame([(2, "y")], "id long, label string"))

    rows = {r["id"]: r["label"] for r in cat.read("t").collect()}
    assert rows == {1: "x", 2: "y"}
    assert [c["col_name"] for c in cat.describe("t")] == ["id", "label"]
    # time travel BEFORE the rename still shows the old name
    assert cat.read("t", version=0).columns == ["id", "val"]


def test_drop_column_then_readd_does_not_resurrect(spark, tmp_path):
    """DROP COLUMN is manifest-only; re-adding the same name gets a
    fresh field id, so old bytes do NOT resurrect (Iceberg semantics)."""
    import pytest

    cat = _catalog(spark, tmp_path)
    cat.create_table(
        "t", spark.createDataFrame([(1, "secret")], "id long, s string")
    )
    cat.drop_column("t", "s")
    assert cat.read("t").columns == ["id"]
    cat.add_column("t", "s", "string")
    # same name, new identity: reads NULL, not "secret"
    assert cat.read("t").collect()[0]["s"] is None
    # time travel to v0 still sees the original value
    assert cat.read("t", version=0).collect()[0]["s"] == "secret"
    # guards
    with pytest.raises(ValueError, match="does not exist"):
        cat.drop_column("t", "nope")
    with pytest.raises(ValueError, match="already exists"):
        cat.rename_column("t", "id", "s")


def test_rename_refuses_partition_columns(spark, tmp_path):
    import pytest

    cat = _catalog(spark, tmp_path)
    cat.create_table(
        "p",
        spark.createDataFrame([(1, "2024-01-01")], "id long, d string"),
        partition_by=["d"],
    )
    with pytest.raises(ValueError, match="partition column"):
        cat.rename_column("p", "d", "dt")
    with pytest.raises(ValueError, match="partition column"):
        cat.drop_column("p", "d")


def test_hidden_partition_transforms_days_and_bucket(spark, tmp_path):
    """Iceberg-style transform partitioning (reference parity:
    bronze_ingestion partitions by days(ts) with no user-managed
    column): the derived column appears on create AND append without
    the caller materializing it, and filters on it partition-prune."""
    cat = _catalog(spark, tmp_path)
    df = spark.createDataFrame(
        [
            (1, dt.datetime(2024, 1, 1, 5), "a"),
            (2, dt.datetime(2024, 1, 2, 6), "b"),
        ],
        "id long, ts timestamp, s string",
    )
    cat.create_table("ev", df, partition_by=["days(ts)"])
    # append RAW rows — the hidden column is re-derived
    cat.append(
        "ev",
        spark.createDataFrame(
            [(3, dt.datetime(2024, 1, 2, 9), "c")], "id long, ts timestamp, s string"
        ),
    )
    back = cat.read("ev")
    assert "ts_day" in back.columns
    day2 = back.filter(F.col("ts_day") == "2024-01-02")
    assert sorted(r["id"] for r in day2.collect()) == [2, 3]
    plan = day2._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan
    scan = plan[plan.index("PartitionFilters"):]
    assert "ts_day" in scan[: scan.index("]")]

    # bucket transform: deterministic hash bucket, pruned the same way
    cat.create_table(
        "bk",
        spark.createDataFrame([(i, f"u{i}") for i in range(20)], "id long, u string"),
        partition_by=["bucket(4, id)"],
    )
    bk = cat.read("bk")
    assert "id_bucket" in bk.columns
    assert bk.select("id_bucket").distinct().count() <= 4
    assert bk.filter(F.col("id_bucket") == 0).count() + bk.filter(
        F.col("id_bucket") != 0
    ).count() == 20


def test_bronze_schema_drift_gate(spark, tmp_path):
    """Added columns auto-evolve through the catalog; dropped or
    retyped columns raise BEFORE any write."""
    import pytest

    from data_lakehouse_spark.operators import quality

    cat = _catalog(spark, tmp_path)
    pipe = MedallionPipeline(spark, cat)
    pipe.ingest_bronze(spark.createDataFrame(_batch(range(1, 4), 1), EVENTS), "b1")

    # forward-compatible drift: new column appears -> zero-rewrite evolve
    wide = EVENTS + ", channel string"
    rows = [
        (i, dt.datetime(2024, 1, 2, 10), 1, "view", 1.0, '{"k": 1}', "web")
        for i in range(4, 6)
    ]
    stats = pipe.ingest_bronze(spark.createDataFrame(rows, wide), "b2")
    assert stats["drift"]["added"] == ["channel"]
    assert stats["drift"]["compatible"]
    back = cat.read("bronze_events")
    assert "channel" in back.columns
    # old rows read back NULL for the evolved column (schema_verify.py
    # semantics), new rows carry the value
    vals = {r["event_id"]: r["channel"] for r in back.collect()}
    assert vals[1] is None and vals[4] == "web"

    # breaking drift: missing column
    with pytest.raises(ValueError, match="removed="):
        pipe.ingest_bronze(
            spark.createDataFrame(
                [(9, dt.datetime(2024, 1, 3, 10), 1, "view", 1.0)],
                "event_id long, ts timestamp, user_id long, event_type string, value double",
            ),
            "b3",
        )

    # breaking drift: retyped column
    retyped = spark.createDataFrame(
        [(9, dt.datetime(2024, 1, 3, 10), 1, "view", "1.0", '{"k": 1}', "web")],
        "event_id long, ts timestamp, user_id long, event_type string, value string, props string, channel string",
    )
    with pytest.raises(ValueError, match="retyped="):
        pipe.ingest_bronze(retyped, "b4")

    # pure-metadata check: no job should have run for the report itself
    rep = quality.schema_drift(cat.read("bronze_events"), retyped)
    assert rep["retyped"] == [("value", "double", "string")]


def test_sql_serving_layer_over_gold(spark, tmp_path):
    """Entry-point-B/C parity: the reference serves analytics as SQL
    strings (dbt models on Thrift; ClickHouse/Superset datasets). After
    the medallion run, every layer is queryable through spark.sql over
    registered views — the A14 serving aggregates and the dags/05
    UNION-count stitching run as literal SQL and agree with the
    DataFrame reads."""
    cat = _catalog(spark, tmp_path)
    pipe = MedallionPipeline(spark, cat, cart_type="cart", as_of_date="2024-02-01")
    pipe.run(spark.createDataFrame(_batch(range(1, 9), 1), EVENTS), "b1")
    cat.register_views()

    # A14: aggregate over a mart, as a SQL string
    row = spark.sql(
        """
        SELECT SUM(total_revenue) AS rev, SUM(total_orders) AS orders
        FROM gold_daily_sales_summary
        """
    ).first()
    df_rev = (
        cat.read("gold_daily_sales_summary")
        .agg(F.sum("total_revenue").alias("r"))
        .first()["r"]
    )
    assert row["rev"] == df_rev and row["orders"] > 0

    # dags/05 row-count stitching across layers via UNION ALL
    counts = {
        r["t"]: r["c"]
        for r in spark.sql(
            """
            SELECT 'silver' AS t, COUNT(*) AS c FROM silver_events
            UNION ALL
            SELECT 'daily', COUNT(*) FROM gold_daily_sales_summary
            UNION ALL
            SELECT 'rfm', COUNT(*) FROM gold_user_rfm_segments
            """
        ).collect()
    }
    assert counts["silver"] == 8 and counts["daily"] >= 1 and counts["rfm"] >= 1

    # top-k serving query (ClickHouse sample-analytics parity)
    top = spark.sql(
        """
        SELECT event_hour, total_events FROM gold_hourly_traffic
        ORDER BY total_events DESC, event_hour LIMIT 3
        """
    ).collect()
    assert 1 <= len(top) <= 3 and top[0]["total_events"] >= top[-1]["total_events"]


def test_delete_where_rewrites_only_touched_dirs(spark, tmp_path):
    """GDPR delete: the matching rows vanish, directories without
    matches are carried into the new snapshot UNREWRITTEN (their dir
    names survive in the manifest), and time travel still sees the
    pre-delete rows."""
    cat = _catalog(spark, tmp_path)
    day1 = spark.createDataFrame(
        [(1, "alice", "2024-01-01"), (2, "bob", "2024-01-01")],
        ["user_id", "name", "day"],
    )
    day2 = spark.createDataFrame(
        [(1, "alice", "2024-01-02"), (3, "carol", "2024-01-02")],
        ["user_id", "name", "day"],
    )
    cat.create_table("users", day1)
    cat.append("users", day2)
    res = cat.delete_where("users", "user_id = 1")
    assert res["affected_rows"] == 2
    # both appended dirs contained user 1 here; use a scoped delete for
    # the pruning claim below
    after = cat.read("users").collect()
    assert sorted(r["user_id"] for r in after) == [2, 3]
    # time travel: the version before the delete still has user 1
    old = cat.read("users", version=1).filter("user_id = 1").count()
    assert old == 2

    # scoped delete: only day2's directory is rewritten
    cat2 = Catalog(spark, str(tmp_path / "w2"))
    cat2.create_table("t", day1)
    cat2.append("t", day2)
    res2 = cat2.delete_where("t", "user_id = 3")
    assert res2["affected_rows"] == 1
    assert len(res2["rewritten_dirs"]) == 1
    assert res2["kept_dirs"] == ["v00000"]
    assert sorted(
        r["user_id"] for r in cat2.read("t").collect()
    ) == [1, 1, 2]


def test_delete_where_null_condition_keeps_rows(spark, tmp_path):
    """SQL DELETE semantics: rows where the predicate is NULL are NOT
    deleted."""
    cat = _catalog(spark, tmp_path)
    df = spark.createDataFrame(
        [(1, None), (2, 5), (3, 50)], ["id", "score"]
    )
    cat.create_table("s", df)
    res = cat.delete_where("s", "score > 10")
    assert res["affected_rows"] == 1
    assert sorted(r["id"] for r in cat.read("s").collect()) == [1, 2]


def test_update_where_copy_on_write(spark, tmp_path):
    cat = _catalog(spark, tmp_path)
    df = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0), (3, "a", 30.0)],
        ["id", "grp", "val"],
    )
    cat.create_table("u", df)
    res = cat.update_where(
        "u", "grp = 'a'", {"val": "val * 2", "grp": F.lit("A")}
    )
    assert res["affected_rows"] == 2
    rows = {r["id"]: r for r in cat.read("u").collect()}
    assert rows[1]["val"] == 20.0 and rows[1]["grp"] == "A"
    assert rows[2]["val"] == 20.0 and rows[2]["grp"] == "b"
    assert rows[3]["val"] == 60.0 and rows[3]["grp"] == "A"
    # no-match DML is a no-op commit-wise
    res2 = cat.update_where("u", "grp = 'zzz'", {"val": "0"})
    assert res2["affected_rows"] == 0 and res2["rewritten_dirs"] == []


def test_concurrent_appends_both_land(spark, tmp_path):
    """Two threads appending simultaneously: the commit lock serializes
    them — both snapshots exist, no rows lost, versions consistent."""
    from concurrent.futures import ThreadPoolExecutor

    cat = _catalog(spark, tmp_path)
    cat.create_table(
        "c", spark.createDataFrame([(0, "seed")], ["id", "v"])
    )

    def add(tag):
        df = spark.createDataFrame(
            [(i, tag) for i in range(1, 4)], ["id", "v"]
        )
        cat.append("c", df)

    with ThreadPoolExecutor(2) as ex:
        list(ex.map(add, ["a", "b"]))

    rows = cat.read("c").collect()
    assert len(rows) == 7  # 1 seed + 3 + 3
    assert {r["v"] for r in rows} == {"seed", "a", "b"}
    assert cat.snapshots("c").count() == 3  # create + 2 appends


def test_dml_fails_on_concurrent_append(spark, tmp_path, monkeypatch):
    """Copy-on-write DML built against a stale snapshot must raise, not
    silently drop the concurrently appended data."""
    import pytest as _pytest

    from data_lakehouse_spark.catalog import Catalog

    cat = _catalog(spark, tmp_path)
    cat.create_table("d", spark.createDataFrame([(1, 5)], ["id", "x"]))

    # simulate a concurrent append landing between the DML's read and
    # its commit by intercepting _commit_locked once
    orig = Catalog._commit_locked
    state = {"injected": False}

    def racy(self, h, df, **kw):
        if not state["injected"] and kw.get("expected_version") is not None:
            state["injected"] = True
            cat2 = Catalog(spark, self.root)
            orig(
                cat2, h,
                spark.createDataFrame([(99, 5)], ["id", "x"]),
                op="append", replace=False,
            )
        return orig(self, h, df, **kw)

    monkeypatch.setattr(Catalog, "_commit_locked", racy)
    with _pytest.raises(RuntimeError, match="concurrent modification"):
        cat.delete_where("d", "x = 5")
    # the concurrently appended row survived
    assert {r["id"] for r in cat.read("d").collect()} == {1, 99}


def test_manifest_stats_and_dir_pruned_read(spark, tmp_path):
    """Iceberg-manifest-metrics analog: per-dir footer min/max recorded
    at commit; a pruned read skips whole snapshot dirs (fewer input
    files), returns exactly the rows a BETWEEN filter needs, and an
    impossible range reads zero files."""
    cat = _catalog(spark, tmp_path)
    cat.create_table(
        "m", spark.createDataFrame([(i, f"d{i}") for i in range(10)], ["id", "s"])
    )
    cat.append(
        "m",
        spark.createDataFrame([(i, f"d{i}") for i in range(100, 110)], ["id", "s"]),
    )
    cat.append(
        "m",
        spark.createDataFrame([(i, f"d{i}") for i in range(200, 210)], ["id", "s"]),
    )
    # stats landed in the manifest
    ent = cat._load_manifest(cat._handle("m"))[-1]
    assert ent["stats"]["rows"] == 10
    assert ent["stats"]["min"]["id"] == 200 and ent["stats"]["max"]["id"] == 209

    full_files = len(cat.read("m").inputFiles())
    pruned = cat.read("m", prune={"id": (100, 150)})
    assert len(pruned.inputFiles()) < full_files
    got = sorted(
        r["id"] for r in pruned.filter("id BETWEEN 100 AND 150").collect()
    )
    assert got == list(range(100, 110))

    # open upper bound; impossible range reads nothing
    assert cat.read("m", prune={"id": (150, None)}).count() == 10
    assert cat.read("m", prune={"id": (900, None)}).count() == 0
    # conservative on unknown columns / type mismatch
    assert cat.read("m", prune={"nope": (1, 2)}).count() == 30


def test_table_changes_append_and_cow_diff(spark, tmp_path):
    """Change data feed: append versions diff as pure inserts; a COW
    delete surfaces ONLY the deleted row images (carried rows cancel);
    an update surfaces as its delete+insert pair; unchanged dirs are
    never part of the diff's input."""
    cat = _catalog(spark, tmp_path)
    day1 = spark.createDataFrame(
        [(1, "alice", 10.0), (2, "bob", 20.0)], ["id", "name", "val"]
    )
    day2 = spark.createDataFrame(
        [(3, "carol", 30.0), (4, "dan", 40.0)], ["id", "name", "val"]
    )
    cat.create_table("cdf", day1)          # v0
    cat.append("cdf", day2)                # v1
    # v0 -> v1: the appended rows, as inserts
    ch = cat.table_changes("cdf", 0, 1).collect()
    assert {(r["id"], r["_change_type"]) for r in ch} == {
        (3, "insert"), (4, "insert")
    }

    cat.delete_where("cdf", "id = 3")      # v2 (COW rewrite of day2 dir)
    ch = cat.table_changes("cdf", 1, 2).collect()
    assert [(r["id"], r["_change_type"]) for r in ch] == [(3, "delete")]
    # the untouched day1 dir is shared by both manifests -> not scanned
    scanned = cat.table_changes("cdf", 1, 2).inputFiles()
    assert scanned and not any("/v00000/" in f for f in scanned)

    cat.update_where("cdf", "id = 4", {"val": "val + 1"})  # v3
    ch = cat.table_changes("cdf", 2, 3).collect()
    images = {(r["id"], r["val"], r["_change_type"]) for r in ch}
    assert images == {(4, 40.0, "delete"), (4, 41.0, "insert")}

    # full-span diff v0 -> latest: net change only (3 and 4's old image
    # never existed at v0, so only the net inserts appear)
    ch = cat.table_changes("cdf", 0).collect()
    assert {(r["id"], r["val"], r["_change_type"]) for r in ch} == {
        (4, 41.0, "insert")
    }


def test_table_changes_multiset_and_expired(spark, tmp_path):
    """exceptAll keeps duplicate-row multiplicity honest; expired
    versions refuse to diff."""
    cat = _catalog(spark, tmp_path)
    dup = spark.createDataFrame([(1, "x"), (1, "x")], ["id", "v"])
    cat.create_table("m", dup)                       # v0
    cat.append("m", spark.createDataFrame([(1, "x")], ["id", "v"]))  # v1
    ch = cat.table_changes("m", 0, 1).collect()
    # one MORE copy of the same row = exactly one insert image
    assert [(r["id"], r["_change_type"]) for r in ch] == [(1, "insert")]

    cat.expire_snapshots("m", keep_last=1)
    import pytest as _pytest

    with _pytest.raises(ValueError, match="expired"):
        cat.table_changes("m", 0, 1)


def test_mor_delete_writes_no_data_just_positions(spark, tmp_path):
    """Merge-on-read DELETE: data dirs untouched, a positional delete
    file appears, reads hide the rows, time travel still sees them,
    and rewrite_position_deletes folds everything back to a clean
    snapshot."""
    import os

    cat = _catalog(spark, tmp_path)
    day1 = spark.createDataFrame(
        [(1, "alice", "2024-01-01"), (2, "bob", "2024-01-01")],
        ["user_id", "name", "day"],
    )
    day2 = spark.createDataFrame(
        [(1, "alice", "2024-01-02"), (3, "carol", "2024-01-02")],
        ["user_id", "name", "day"],
    )
    cat.create_table("m", day1)            # v0
    cat.append("m", day2)                  # v1
    res = cat.delete_where("m", "user_id = 1", mode="mor")  # v2
    assert res["affected_rows"] == 2
    assert res["rewritten_dirs"] == []     # THE point of MOR
    assert res["delete_dir"] == "d00002"
    # live read hides the rows
    assert sorted(
        r["user_id"] for r in cat.read("m").collect()
    ) == [2, 3]
    # the data dirs are bit-untouched (still both original dirs)
    tdir = os.path.join(str(tmp_path / "warehouse"), "m")
    assert sorted(
        d for d in os.listdir(tdir) if d.startswith("v")
    ) == ["v00000", "v00001"]
    # time travel to pre-delete still sees user 1
    assert cat.read("m", version=1).filter("user_id = 1").count() == 2

    # deletes stack: second MOR delete composes with the first
    cat.delete_where("m", "user_id = 2", mode="mor")        # v3
    assert [r["user_id"] for r in cat.read("m").collect()] == [3]

    # appends after MOR deletes must NOT resurrect deleted rows
    cat.append("m", spark.createDataFrame(
        [(4, "dan", "2024-01-03")], ["user_id", "name", "day"]
    ))                                                       # v4
    assert sorted(
        r["user_id"] for r in cat.read("m").collect()
    ) == [3, 4]

    # maintenance: fold positions into data; reads stay identical and
    # the new snapshot has no delete dirs
    res2 = cat.rewrite_position_deletes("m")                 # v5
    assert res2["delete_dirs_removed"] == 2
    assert sorted(
        r["user_id"] for r in cat.read("m").collect()
    ) == [3, 4]
    assert (cat._load_manifest(cat._handle("m"))[-1].get("delete_dirs")) == []


def test_mor_delete_then_cow_dml_and_update(spark, tmp_path):
    """COW DML layered over MOR deletes: the rewrite consumes the LIVE
    view (deleted rows stay gone), kept dirs keep their delete files."""
    cat = _catalog(spark, tmp_path)
    df = spark.createDataFrame(
        [(i, float(i)) for i in range(6)], ["id", "val"]
    )
    cat.create_table("x", df)              # v0
    cat.delete_where("x", "id = 0", mode="mor")   # v1
    cat.update_where("x", "id = 5", {"val": "val * 10"})  # v2 (COW)
    rows = {r["id"]: r["val"] for r in cat.read("x").collect()}
    assert 0 not in rows and rows[5] == 50.0 and rows[1] == 1.0


def test_mor_delete_in_table_changes(spark, tmp_path):
    """CDF across a MOR delete surfaces the deleted row images even
    though no data dir changed."""
    cat = _catalog(spark, tmp_path)
    cat.create_table("c", spark.createDataFrame(
        [(1, "a"), (2, "b")], ["id", "v"]
    ))                                      # v0
    cat.delete_where("c", "id = 1", mode="mor")   # v1
    ch = cat.table_changes("c", 0, 1).collect()
    assert [(r["id"], r["_change_type"]) for r in ch] == [(1, "delete")]
    # append post-delete: span v0->v2 shows the delete and the insert
    cat.append("c", spark.createDataFrame([(3, "c")], ["id", "v"]))  # v2
    ch = {(r["id"], r["_change_type"])
          for r in cat.table_changes("c", 0, 2).collect()}
    assert ch == {(1, "delete"), (3, "insert")}
    # a row appended AND MOR-deleted within the span nets out
    cat.delete_where("c", "id = 3", mode="mor")   # v3
    ch = {(r["id"], r["_change_type"])
          for r in cat.table_changes("c", 0, 3).collect()}
    assert ch == {(1, "delete")}


def test_mor_delete_null_semantics_and_noop(spark, tmp_path):
    """SQL NULL predicate keeps rows; a no-match MOR delete commits
    nothing."""
    cat = _catalog(spark, tmp_path)
    cat.create_table("n", spark.createDataFrame(
        [(1, None), (2, 5)], "id int, score int"
    ))
    res = cat.delete_where("n", "score > 10", mode="mor")
    assert res["affected_rows"] == 0 and res["delete_dir"] is None
    assert len(cat._load_manifest(cat._handle("n"))) == 1  # no new version
    res = cat.delete_where("n", "score > 4", mode="mor")
    assert res["affected_rows"] == 1
    assert sorted(r["id"] for r in cat.read("n").collect()) == [1]


def test_files_metadata_table_and_metadata_only_count(spark, tmp_path):
    """.files rows match the physical layout; row_count answers
    COUNT(*) from manifest stats + delete-file footers alone, agreeing
    with the scan across append / MOR delete / COW update / time
    travel."""
    cat = _catalog(spark, tmp_path)
    cat.create_table("f", spark.createDataFrame(
        [(i, f"u{i}") for i in range(10)], ["id", "v"]
    ))                                      # v0
    cat.append("f", spark.createDataFrame(
        [(i, f"u{i}") for i in range(10, 15)], ["id", "v"]
    ))                                      # v1
    fl = cat.files("f").collect()
    assert sum(r["rows"] for r in fl) == 15
    assert {r["snapshot_dir"] for r in fl} == {"v00000", "v00001"}
    assert all(r["bytes"] > 0 for r in fl)
    assert cat.row_count("f") == 15 == cat.read("f").count()

    cat.delete_where("f", "id < 3", mode="mor")      # v2: -3 via positions
    assert cat.row_count("f") == 12 == cat.read("f").count()
    cat.delete_where("f", "id >= 13")                # v3: COW -2
    assert cat.row_count("f") == 10 == cat.read("f").count()
    # time travel counts stay version-accurate
    assert cat.row_count("f", version=0) == 10
    assert cat.row_count("f", version=2) == 12


def test_rollback_restores_version_and_feeds_cdc(spark, tmp_path):
    """rollback makes an old version current with zero data movement;
    the undone span reads back through the change feed as re-inserts,
    and history/time-travel stay intact."""
    cat = _catalog(spark, tmp_path)
    cat.create_table("r", spark.createDataFrame(
        [(1, "a"), (2, "b")], ["id", "v"]
    ))                                       # v0
    cat.append("r", spark.createDataFrame([(3, "c")], ["id", "v"]))  # v1
    cat.delete_where("r", "id <= 2")         # v2 (COW)
    assert sorted(r["id"] for r in cat.read("r").collect()) == [3]

    cat.rollback("r", 1)                     # v3 == v1 content
    assert sorted(r["id"] for r in cat.read("r").collect()) == [1, 2, 3]
    # the bad delete is still visible in history
    assert sorted(r["id"] for r in cat.read("r", version=2).collect()) == [3]
    ops = [e["op"] for e in cat._load_manifest(cat._handle("r"))]
    assert ops == ["create", "append", "delete", "rollback"]
    # CDC across the rollback: the restored rows are re-inserts
    ch = {(r["id"], r["_change_type"])
          for r in cat.table_changes("r", 2, 3).collect()}
    assert ch == {(1, "insert"), (2, "insert")}
    # rollback of a MOR state carries delete files too
    cat.delete_where("r", "id = 1", mode="mor")   # v4
    cat.append("r", spark.createDataFrame([(9, "z")], ["id", "v"]))  # v5
    cat.rollback("r", 4)                     # v6: 2,3 (1 still deleted)
    assert sorted(r["id"] for r in cat.read("r").collect()) == [2, 3]


def test_wap_staged_commit_audit_publish(spark, tmp_path):
    """Write-audit-publish: a staged append is invisible to default
    reads, auditable by explicit version, published with zero data
    movement; plain commits atop unpublished staged data refuse; abort
    is rollback to the last published version."""
    import pytest

    cat = _catalog(spark, tmp_path)
    cat.create_table("w", spark.createDataFrame(
        [(1, 10.0)], ["id", "val"]
    ))                                          # v0
    cat.append("w", spark.createDataFrame(
        [(2, -99.0)], ["id", "val"]
    ), staged=True)                             # v1 (staged)
    # default read: still only the published row
    assert [r["id"] for r in cat.read("w").collect()] == [1]
    # audit path sees it explicitly
    staged_rows = cat.read("w", version=1).collect()
    assert sorted(r["id"] for r in staged_rows) == [1, 2]
    # a plain commit on top of staged data refuses
    with pytest.raises(ValueError, match="staged"):
        cat.append("w", spark.createDataFrame([(3, 1.0)], ["id", "val"]))
    # audit fails -> abort = rollback to last published
    cat.rollback("w", 0)                        # v2
    assert [r["id"] for r in cat.read("w").collect()] == [1]

    # second attempt with clean data: stage, audit passes, publish
    cat.append("w", spark.createDataFrame(
        [(2, 42.0)], ["id", "val"]
    ), staged=True)                             # v3 (staged)
    audit = cat.read("w", version=3).filter("val < 0").count()
    assert audit == 0
    cat.publish("w")                            # v4
    assert sorted(r["id"] for r in cat.read("w").collect()) == [1, 2]
    ops = [e["op"] for e in cat._load_manifest(cat._handle("w"))]
    assert ops == ["create", "append", "rollback", "append", "publish"]
    with pytest.raises(ValueError, match="nothing staged"):
        cat.publish("w")


def test_row_count_counts_the_published_snapshot(spark, tmp_path):
    """``row_count`` counts what a default read returns: a staged
    append is not counted until it is published; ``version=`` still
    counts the staged snapshot."""
    cat = _catalog(spark, tmp_path)
    cat.create_table("w", spark.createDataFrame(
        [(1, 10.0), (2, 20.0)], ["id", "val"]
    ))                                          # v0
    cat.append("w", spark.createDataFrame(
        [(3, 30.0)], ["id", "val"]
    ), staged=True)                             # v1 (staged)
    assert cat.read("w").count() == 2
    assert cat.row_count("w") == 2
    assert cat.row_count("w", version=1) == 3
    cat.publish("w")
    assert cat.row_count("w") == cat.read("w").count() == 3


def test_timestamp_as_of_read(spark, tmp_path):
    """TIMESTAMP AS OF resolves to the last published snapshot at or
    before the instant (manifest timestamps rewritten to distinct
    values to sidestep same-second commits)."""
    import pytest

    cat = _catalog(spark, tmp_path)
    cat.create_table("ts", spark.createDataFrame([(1,)], ["id"]))
    cat.append("ts", spark.createDataFrame([(2,)], ["id"]))
    cat.append("ts", spark.createDataFrame([(3,)], ["id"]))
    h = cat._handle("ts")
    entries = cat._load_manifest(h)
    for e, t in zip(entries, ["2024-01-01 00:00:00",
                              "2024-01-02 00:00:00",
                              "2024-01-03 00:00:00"]):
        e["committed_at"] = t
    cat._save_manifest(h, entries)

    assert cat.read("ts", as_of="2024-01-01 12:00:00").count() == 1
    assert cat.read("ts", as_of="2024-01-02 00:00:00").count() == 2
    assert cat.read("ts", as_of="2030-01-01 00:00:00").count() == 3
    with pytest.raises(ValueError, match="no snapshot"):
        cat.read("ts", as_of="2020-01-01 00:00:00")


def test_foreign_field_ids_never_trusted(spark, tmp_path):
    """A DataFrame whose schema rode in from ANOTHER table (catalog
    read of table A, or the streaming source) carries A's field_id
    metadata. create_table/append must mint THIS table's ids fresh —
    trusting foreign ids minted duplicates and the id-based file
    resolution then silently read the wrong columns (regression:
    stream → withColumn → catalog sink scrambled id/event_type)."""
    cat = Catalog(spark, str(tmp_path / "w"))
    cat.create_table(
        "a",
        spark.createDataFrame(
            [(1, "x", 2.0)], "id long, name string, value double"
        ),
    )
    # read of `a` carries field_ids 1..3; new derived columns carry none
    derived = (
        cat.read("a")
        .withColumn("extra", (F.col("value") * 100).cast("long"))
        .withColumn("tag", F.lit("t"))
    )
    cat.create_table("b", derived)
    import json as _json
    import os as _os

    man = _json.load(
        open(_os.path.join(str(tmp_path / "w"), "b", "_manifest.json"))
    )
    ids = [
        f["metadata"]["field_id"] for f in man[-1]["schema"]["fields"]
    ]
    assert len(ids) == len(set(ids)), f"duplicate field ids: {ids}"
    got = sorted(tuple(r) for r in cat.read("b").collect())
    assert got == [(1, "x", 2.0, 200, "t")]
    # append with foreign-id schema keeps resolving correctly too
    cat.append("b", derived)
    assert cat.read("b").count() == 2
    assert sorted(tuple(r) for r in cat.read("b").collect())[0] == (
        1, "x", 2.0, 200, "t",
    )


def test_maintain_policy_sweep(spark, tmp_path):
    """catalog.maintain: one metadata-driven table-service sweep — a
    small-file-heavy table compacts (folding MOR deletes with it), a
    delete-heavy-but-well-sized table folds its delete files, retention
    expires history, and dry_run reports the same decisions without
    acting or advancing the version."""
    from data_lakehouse_spark.catalog import Catalog

    cat = Catalog(spark, str(tmp_path / "w"))
    cat.create_table(
        "t", spark.createDataFrame([(0, "x")], "id long, s string")
    )
    # accumulate small-file appends + one MOR delete
    for i in range(1, 6):
        cat.append(
            "t", spark.createDataFrame([(i, "x")], "id long, s string")
        )
    cat.delete_where("t", "id = 3", mode="mor-eq", equality_cols=["id"])
    before = cat.current_version("t")

    # dry run: decisions only, no commits
    plan = cat.maintain("t", min_files_to_compact=4, dry_run=True)
    assert [a["action"] for a in plan["actions"]] == ["compact"]
    assert "result" not in plan["actions"][0]
    assert plan["stats"]["n_delete_files"] == 1
    assert cat.current_version("t") == before

    # real sweep: compacts AND folds the delete file with it
    out = cat.maintain("t", min_files_to_compact=4)
    assert out["actions"][0]["action"] == "compact"
    assert out["actions"][0]["result"]["files_after"] <= 2
    assert sorted(r["id"] for r in cat.read("t").collect()) == [0, 1, 2, 4, 5]
    head_dd = cat.maintain("t", dry_run=True)["stats"]["n_delete_files"]
    assert head_dd == 0  # replace commit started clean

    # delete-heavy but well-sized: folds instead of compacting
    cat2 = Catalog(spark, str(tmp_path / "w2"))
    cat2.create_table(
        "u",
        spark.createDataFrame(
            [(i, "x") for i in range(100)], "id long, s string"
        ).coalesce(1),
    )
    for i in range(3):
        cat2.delete_where("u", f"id = {i}", mode="mor")
    out = cat2.maintain("u", max_delete_files=2, min_files_to_compact=50)
    assert [a["action"] for a in out["actions"]] == [
        "rewrite_position_deletes"
    ]
    assert out["actions"][0]["result"]["delete_dirs_removed"] == 3
    assert cat2.read("u").count() == 97

    # retention: expire keeps the head readable, old versions gone
    out = cat2.maintain("u", expire_keep_last=1, min_files_to_compact=999)
    assert out["actions"][-1]["action"] == "expire_snapshots"
    assert cat2.read("u").count() == 97
    import pytest as _pytest

    with _pytest.raises(ValueError, match="expired"):
        cat2.read("u", version=0)


def test_maintain_orphan_sweep_step(spark, tmp_path):
    """maintain() policy step 4: crash-debris dirs (fully written, no
    manifest entry) are removed when orphan_older_than_hours is given
    and aged past the margin; in-flight-fresh dirs and referenced dirs
    are untouched; dry_run decides without deleting; the step is
    absent when no orphans qualify or the knob is off."""
    import os

    from data_lakehouse_spark.catalog import Catalog

    cat = Catalog(spark, str(tmp_path / "w"))
    cat.create_table(
        "t", spark.createDataFrame([(0, "x")], "id long, s string")
    )
    h = cat._handle("t")
    # a crashed write: full data dir, no manifest entry
    orphan = os.path.join(h.path, "crashed-write-dir")
    os.makedirs(orphan)
    with open(os.path.join(orphan, "part-0.parquet"), "wb") as f:
        f.write(b"x" * 128)
    # knob off -> no orphan step
    out = cat.maintain("t")
    assert "remove_orphan_files" not in {a["action"] for a in out["actions"]}
    assert os.path.isdir(orphan)
    # fresh dir inside the safety margin -> still no step
    out = cat.maintain("t", orphan_older_than_hours=1.0)
    assert "remove_orphan_files" not in {a["action"] for a in out["actions"]}
    # dry run names it without deleting
    plan = cat.maintain("t", orphan_older_than_hours=0.0, dry_run=True)
    step = next(
        a for a in plan["actions"] if a["action"] == "remove_orphan_files"
    )
    assert "crash debris" in step["reason"] and "result" not in step
    assert os.path.isdir(orphan)
    # real sweep removes it and reports bytes
    out = cat.maintain("t", orphan_older_than_hours=0.0)
    step = next(
        a for a in out["actions"] if a["action"] == "remove_orphan_files"
    )
    assert step["result"]["orphan_dirs"] == ["crashed-write-dir"]
    assert step["result"]["bytes_reclaimed"] == 128
    assert not os.path.isdir(orphan)
    # table contents untouched, referenced dirs alive
    assert cat.read("t").count() == 1
