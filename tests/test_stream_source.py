"""Streaming SOURCE over the catalog (streaming/source.py): offsets
are manifest versions, microbatches are snapshot file-diffs, each new
file is one executor-side Arrow partition. Exactly-once across
restarts rides Spark's checkpointed offset log + the immutable
manifest (the Delta-CDF-source analog)."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from data_lakehouse_spark.catalog import Catalog
from data_lakehouse_spark.streaming.source import stream_table


def _cat(spark, tmp_path) -> Catalog:
    return Catalog(spark, str(tmp_path / "w"))


def _drain(spark, df, out, ck):
    q = (
        df.writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ck)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)


def _sunk(spark, out):
    if not os.path.exists(out) or not any(
        f.endswith(".parquet")
        for _, _, fs in os.walk(out)
        for f in fs
    ):
        return []
    return sorted(
        tuple(r)
        for r in spark.read.parquet(out)
        .select("id", "_change_type", "_commit_version")
        .collect()
    )


def test_full_history_then_tail_exactly_once(spark, tmp_path):
    """Initial run streams the whole table (startingVersion=0 default);
    a restart from the same checkpoint streams ONLY versions committed
    since — the offset log and manifest agree on 'new'."""
    cat = _cat(spark, tmp_path)
    cat.create_table(
        "t", spark.createDataFrame([(1, "a"), (2, "b")], "id long, v string")
    )
    cat.append("t", spark.createDataFrame([(3, "c")], "id long, v string"))
    out, ck = str(tmp_path / "out"), str(tmp_path / "ck")
    _drain(spark, stream_table(spark, cat.root, "t"), out, ck)
    assert _sunk(spark, out) == [
        (1, "insert", 0),
        (2, "insert", 0),
        (3, "insert", 1),
    ]
    cat.append("t", spark.createDataFrame([(4, "d")], "id long, v string"))
    _drain(spark, stream_table(spark, cat.root, "t"), out, ck)
    assert _sunk(spark, out) == [
        (1, "insert", 0),
        (2, "insert", 0),
        (3, "insert", 1),
        (4, "insert", 2),
    ]


def test_starting_version_latest_tails_only(spark, tmp_path):
    cat = _cat(spark, tmp_path)
    cat.create_table(
        "t", spark.createDataFrame([(1, "a")], "id long, v string")
    )
    out, ck = str(tmp_path / "out"), str(tmp_path / "ck")
    _drain(
        spark,
        stream_table(spark, cat.root, "t", startingVersion="latest"),
        out,
        ck,
    )
    assert _sunk(spark, out) == []
    cat.append("t", spark.createDataFrame([(2, "b")], "id long, v string"))
    _drain(
        spark,
        stream_table(spark, cat.root, "t", startingVersion="latest"),
        out,
        ck,
    )
    assert _sunk(spark, out) == [(2, "insert", 1)]


def test_cow_rewrite_fails_unless_opted_in(spark, tmp_path):
    """Delta-source contract: a rewrite in the span fails the query;
    ignoreChanges re-emits the rewritten dirs' rows instead."""
    cat = _cat(spark, tmp_path)
    cat.create_table(
        "t",
        spark.createDataFrame(
            [(1, "a"), (2, "b"), (3, "c")], "id long, v string"
        ),
    )
    out, ck = str(tmp_path / "out"), str(tmp_path / "ck")
    _drain(spark, stream_table(spark, cat.root, "t"), out, ck)
    cat.delete_where("t", F.col("id") == 2, mode="cow")
    q = (
        stream_table(spark, cat.root, "t")
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ck)
        .trigger(availableNow=True)
        .start()
    )
    from pyspark.errors import StreamingQueryException

    with pytest.raises(StreamingQueryException, match="rewrote data"):
        q.awaitTermination(180)
    # opted in: a fresh replay from version 0 emits v0's original
    # files (1,2,3), then the rewrite's new dirs re-emit carried rows
    # (1,3) — exactly Delta's startingVersion=0 + ignoreChanges shape;
    # consumers are told to expect duplicates, not retractions
    out2, ck2 = str(tmp_path / "out2"), str(tmp_path / "ck2")
    _drain(
        spark,
        stream_table(spark, cat.root, "t", ignoreChanges="true"),
        out2,
        ck2,
    )
    cat.append("t", spark.createDataFrame([(9, "z")], "id long, v string"))
    _drain(
        spark,
        stream_table(spark, cat.root, "t", ignoreChanges="true"),
        out2,
        ck2,
    )
    got = _sunk(spark, out2)
    assert (9, "insert", 2) in got
    assert {g[0] for g in got} == {1, 2, 3, 9}
    # the rewrite commit re-emitted exactly the carried rows
    assert {g[0] for g in got if g[2] == 1} == {1, 3}


def test_mor_delete_fails_unless_ignored(spark, tmp_path):
    cat = _cat(spark, tmp_path)
    cat.create_table(
        "t", spark.createDataFrame([(1, "a"), (2, "b")], "id long, v string")
    )
    out, ck = str(tmp_path / "out"), str(tmp_path / "ck")
    _drain(spark, stream_table(spark, cat.root, "t"), out, ck)
    cat.delete_where("t", F.col("id") == 1, mode="mor")
    cat.append("t", spark.createDataFrame([(3, "c")], "id long, v string"))
    q = (
        stream_table(spark, cat.root, "t")
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ck)
        .trigger(availableNow=True)
        .start()
    )
    from pyspark.errors import StreamingQueryException

    with pytest.raises(StreamingQueryException, match="MOR deletes"):
        q.awaitTermination(180)
    out2, ck2 = str(tmp_path / "out2"), str(tmp_path / "ck2")
    _drain(
        spark,
        stream_table(spark, cat.root, "t", ignoreDeletes="true"),
        out2,
        ck2,
    )
    # delete skipped (row 1 already streamed stays), append streamed
    assert (3, "insert", 2) in _sunk(spark, out2)


def test_equality_deletes_skip_or_refuse(spark, tmp_path):
    """An upsert_cdc commits an equality delete next to its images: the
    stream skips the delete under ignoreDeletes (the images stream as
    inserts), refuses it by default, and refuses it in change-feed mode
    (a key delete has no per-file row images; table_changes has them)."""
    from pyspark.errors import StreamingQueryException

    cat = _cat(spark, tmp_path)
    cat.create_table(
        "t", spark.createDataFrame([(1, "a"), (2, "b")], "id long, v string")
    )
    cat.upsert_cdc(
        "t",
        spark.createDataFrame([(2, "B", "U")], "id long, v string, _op string"),
        ["id"],
    )
    out, ck = str(tmp_path / "out"), str(tmp_path / "ck")
    _drain(
        spark, stream_table(spark, cat.root, "t", ignoreDeletes="true"), out, ck
    )
    assert _sunk(spark, out) == [(1, "insert", 0), (2, "insert", 0), (2, "insert", 1)]
    for opts, match in (({}, "MOR deletes"), ({"readChangeFeed": "true"}, "table_changes")):
        tag = "cdf" if opts else "plain"
        q = (
            stream_table(spark, cat.root, "t", **opts)
            .writeStream.format("parquet")
            .option("path", str(tmp_path / f"out-{tag}"))
            .option("checkpointLocation", str(tmp_path / f"ck-{tag}"))
            .trigger(availableNow=True)
            .start()
        )
        with pytest.raises(StreamingQueryException, match=match):
            q.awaitTermination(180)


def test_partition_values_and_schema_drift(spark, tmp_path):
    """Hive partition values are restored at the declared type, and a
    file written BEFORE add_column streams with null backfill under
    the query-start schema."""
    cat = _cat(spark, tmp_path)
    cat.create_table(
        "t",
        spark.createDataFrame(
            [(1, "us"), (2, "eu")], "id long, region string"
        ),
        partition_by=["region"],
    )
    cat.add_column("t", "score", "double")
    cat.append(
        "t",
        spark.createDataFrame(
            [(3, "us", 0.5)], "id long, region string, score double"
        ),
    )
    out, ck = str(tmp_path / "out"), str(tmp_path / "ck")
    _drain(spark, stream_table(spark, cat.root, "t"), out, ck)
    rows = sorted(
        tuple(r)
        for r in spark.read.parquet(out)
        .select("id", "region", "score", "_commit_version")
        .collect()
    )
    assert rows == [
        (1, "us", None, 0),
        (2, "eu", None, 0),
        (3, "us", 0.5, 2),
    ]


def test_max_versions_per_trigger_caps_batches(spark, tmp_path):
    """Admission control: each microbatch folds at most N snapshots —
    the per-sink-commit version spread proves the cap held."""
    cat = _cat(spark, tmp_path)
    cat.create_table(
        "t", spark.createDataFrame([(0, "x")], "id long, v string")
    )
    for i in range(1, 4):
        cat.append(
            "t", spark.createDataFrame([(i, "x")], "id long, v string")
        )
    seen_batches: list[set] = []

    def sink(bdf, bid):
        seen_batches.append(
            {r["_commit_version"] for r in bdf.collect()}
        )

    q = (
        stream_table(spark, cat.root, "t", maxVersionsPerTrigger="1")
        .writeStream.foreachBatch(sink)
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(processingTime="1 second")
        .start()
    )
    import time

    deadline = time.time() + 120
    while time.time() < deadline:
        if sum(len(b) for b in seen_batches if b) >= 4:
            break
        time.sleep(1)
    q.stop()
    got = [b for b in seen_batches if b]
    assert all(len(b) == 1 for b in got)
    assert set().union(*got) == {0, 1, 2, 3}


def test_catalog_to_catalog_incremental_pipeline(spark, tmp_path):
    """The closed loop: bronze catalog table → lakehouse stream source
    → transformation → catalog sink into a silver table. Re-running
    after new bronze appends moves ONLY the new rows (incremental by
    offset log), and silver's content equals a batch recompute."""
    from data_lakehouse_spark.streaming.pipeline import stream_to_catalog

    cat = _cat(spark, tmp_path)
    cat.create_table(
        "bronze",
        spark.createDataFrame(
            [(1, "view", 2.0), (2, "purchase", 10.0)],
            "id long, event_type string, value double",
        ),
    )
    ck = str(tmp_path / "ck")

    def run_hop():
        enriched = (
            stream_table(spark, cat.root, "bronze")
            .withColumn("value_cents", (F.col("value") * 100).cast("long"))
            .drop("_change_type")
        )
        q = stream_to_catalog(
            enriched, cat, "silver", checkpoint=ck
        )
        q.awaitTermination(180)

    run_hop()
    v_after_first = len(cat.snapshots("silver").collect())
    cat.append(
        "bronze",
        spark.createDataFrame(
            [(3, "view", 5.0)], "id long, event_type string, value double"
        ),
    )
    run_hop()
    got = sorted(
        tuple(r)
        for r in cat.read("silver")
        .select("id", "event_type", "value_cents", "_commit_version")
        .collect()
    )
    assert got == [
        (1, "view", 200, 0),
        (2, "purchase", 1000, 0),
        (3, "view", 500, 1),
    ]
    # second hop appended (incremental), not rewrote
    assert len(cat.snapshots("silver").collect()) > v_after_first


def test_expired_unread_span_fails_loudly(spark, tmp_path):
    """If expire_snapshots reclaims a version the stream has not read
    yet, the query fails with a retention error instead of silently
    losing rows; expired-but-carried versions (dirs still referenced
    by retained snapshots) keep streaming fine."""
    cat = _cat(spark, tmp_path)
    cat.create_table(
        "t", spark.createDataFrame([(1, "a")], "id long, v string")
    )
    cat.append("t", spark.createDataFrame([(2, "b")], "id long, v string"))
    # carried case first: expiring v0 keeps its dirs (head references
    # them), so a fresh full replay still works
    cat.expire_snapshots("t", keep_last=1)
    out, ck = str(tmp_path / "out"), str(tmp_path / "ck")
    _drain(spark, stream_table(spark, cat.root, "t"), out, ck)
    assert {g[0] for g in _sunk(spark, out)} == {1, 2}
    # reclaimed case: a full-table replace orphans the old dirs, then
    # expiry deletes them — an unread replay crossing them must fail
    cat.overwrite(
        "t", spark.createDataFrame([(9, "z")], "id long, v string")
    )
    cat.expire_snapshots("t", keep_last=1)
    q = (
        stream_table(spark, cat.root, "t")
        .writeStream.format("parquet")
        .option("path", str(tmp_path / "out2"))
        .option("checkpointLocation", str(tmp_path / "ck2"))
        .trigger(availableNow=True)
        .start()
    )
    from pyspark.errors import StreamingQueryException

    with pytest.raises(StreamingQueryException, match="reclaimed"):
        q.awaitTermination(180)


def test_max_files_per_trigger_splits_within_a_version(spark, tmp_path):
    """File-granular admission control: a SINGLE append version whose
    dir holds several files streams as multiple bounded microbatches
    (offsets address (version, file-index)), and the union is exactly
    the table — the 100 TB shape, where one day's append is thousands
    of files and a version-granular cap would still ingest it as one
    giant batch."""
    cat = _cat(spark, tmp_path)
    cat.create_table(
        "t",
        spark.createDataFrame(
            [(i, "x") for i in range(8)], "id long, v string"
        ).repartition(4),
    )
    batches: list[list] = []

    def sink(bdf, bid):
        rows = [tuple(r) for r in bdf.select("id").collect()]
        if rows:
            batches.append(rows)

    q = (
        stream_table(spark, cat.root, "t", maxFilesPerTrigger="1")
        .writeStream.foreachBatch(sink)
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(processingTime="1 second")
        .start()
    )
    import time

    deadline = time.time() + 120
    while time.time() < deadline:
        if sum(len(b) for b in batches) >= 8:
            break
        time.sleep(1)
    q.stop()
    got = sorted(r[0] for b in batches for r in b)
    assert got == list(range(8))
    # more than one microbatch for the single version, none empty-ish
    assert len(batches) >= 2


def test_read_changefeed_streams_mor_delete_images(spark, tmp_path):
    """readChangeFeed mode: a MOR delete streams the deleted rows as
    _change_type='delete' images (exactly once, with the delete
    commit's version), matching the batch change feed — the Delta CDF
    readStream analog. Inserts keep flowing as 'insert'."""
    cat = _cat(spark, tmp_path)
    cat.create_table(
        "t",
        spark.createDataFrame(
            [(1, "a"), (2, "b"), (3, "c")], "id long, v string"
        ),
    )
    out, ck = str(tmp_path / "out"), str(tmp_path / "ck")
    _drain(
        spark,
        stream_table(spark, cat.root, "t", readChangeFeed="true"),
        out,
        ck,
    )
    cat.delete_where("t", F.col("id") == 2, mode="mor")
    cat.append("t", spark.createDataFrame([(4, "d")], "id long, v string"))
    _drain(
        spark,
        stream_table(spark, cat.root, "t", readChangeFeed="true"),
        out,
        ck,
    )
    got = _sunk(spark, out)
    assert got == [
        (1, "insert", 0),
        (2, "delete", 1),
        (2, "insert", 0),
        (3, "insert", 0),
        (4, "insert", 2),
    ]
    # the streamed delete image carries the full row
    img = [
        tuple(r)
        for r in spark.read.parquet(out)
        .filter(F.col("_change_type") == "delete")
        .select("id", "v")
        .collect()
    ]
    assert img == [(2, "b")]
    # parity with the batch change feed over the same span
    feed = {
        (r["id"], r["_change_type"])
        for r in cat.table_changes("t", 0).collect()
    }
    streamed_span = {
        (g[0], g[1]) for g in got if g[2] >= 1
    }
    assert streamed_span == feed


# ---------------------------------------------------------------------------
# external Delta tables as a streaming source
# ---------------------------------------------------------------------------

from data_lakehouse_spark.interop.delta import export_delta_history
from data_lakehouse_spark.streaming.source import stream_delta


def test_stream_external_delta_appends(spark, tmp_path):
    """An exported (or any) Delta log streams: each commit's adds are
    one microbatch span, partition columns restored from
    add.partitionValues, commit provenance = Delta version."""
    cat = _cat(spark, tmp_path)
    cat.create_table(
        "t",
        spark.createDataFrame(
            [(1, "us"), (2, "eu")], "id long, region string"
        ),
        partition_by=["region"],
    )
    cat.append("t", spark.createDataFrame([(3, "us")], "id long, region string"))
    dl = str(tmp_path / "dl")
    export_delta_history(cat, "t", dl)
    out, ck = str(tmp_path / "out"), str(tmp_path / "ck")
    _drain(spark, stream_delta(spark, dl), out, ck)
    rows = sorted(
        tuple(r)
        for r in spark.read.parquet(out)
        .select("id", "region", "_change_type", "_commit_version")
        .collect()
    )
    assert rows == [
        (1, "us", "insert", 0),
        (2, "eu", "insert", 0),
        (3, "us", "insert", 1),
    ]


def test_stream_external_delta_rewrite_contract(spark, tmp_path):
    """A Delta commit with remove actions (COW delete) fails the
    stream unless ignoreChanges — the same contract as the native
    Delta source."""
    cat = _cat(spark, tmp_path)
    cat.create_table(
        "t",
        spark.createDataFrame(
            [(1, "a"), (2, "b"), (3, "c")], "id long, v string"
        ),
    )
    cat.delete_where("t", F.col("id") == 2, mode="cow")
    dl = str(tmp_path / "dl")
    export_delta_history(cat, "t", dl)
    q = (
        stream_delta(spark, dl)
        .writeStream.format("parquet")
        .option("path", str(tmp_path / "out"))
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    from pyspark.errors import StreamingQueryException

    with pytest.raises(StreamingQueryException, match="removed files"):
        q.awaitTermination(180)
    out2, ck2 = str(tmp_path / "out2"), str(tmp_path / "ck2")
    _drain(spark, stream_delta(spark, dl, ignoreChanges="true"), out2, ck2)
    got = sorted(
        r["id"]
        for r in spark.read.parquet(out2).select("id").collect()
    )
    # v0 originals + rewrite's carried rows re-emitted
    assert got == [1, 1, 2, 3, 3]


def test_stream_external_delta_max_files(spark, tmp_path):
    """File-granular admission control against an external Delta log."""
    cat = _cat(spark, tmp_path)
    cat.create_table(
        "t",
        spark.createDataFrame(
            [(i, "x") for i in range(6)], "id long, v string"
        ).repartition(3),
    )
    dl = str(tmp_path / "dl")
    export_delta_history(cat, "t", dl)
    batches = []

    def sink(bdf, bid):
        rows = [r["id"] for r in bdf.collect()]
        if rows:
            batches.append(rows)

    q = (
        stream_delta(spark, dl, maxFilesPerTrigger="1")
        .writeStream.foreachBatch(sink)
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(processingTime="1 second")
        .start()
    )
    import time

    deadline = time.time() + 120
    while time.time() < deadline and sum(len(b) for b in batches) < 6:
        time.sleep(1)
    q.stop()
    assert sorted(i for b in batches for i in b) == list(range(6))
    assert len(batches) >= 2
