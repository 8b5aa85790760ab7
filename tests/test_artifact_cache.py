"""Artifact reuse in the driver contract: ``cacheutil.memo`` keys an
in-process artifact on the Spark application plus each source's
(path, mtime_ns, size) stamp, and the entry module's ``_index`` keeps a
persisted index only when its stamp sidecar says the last build
finished from the current source."""

from __future__ import annotations

import os
import shutil
import sys
import threading
import time
from types import SimpleNamespace

import pyarrow.parquet as pq
import pytest

import __spark_entry__ as entry
from data_lakehouse_spark import cacheutil
from data_lakehouse_spark.catalog import Catalog


def _fixture_copy(sf_dir: str, dst_dir, *tables: str) -> str:
    """Writable copy of some fixture tables in the new ``dst_dir``."""
    dst_dir.mkdir()
    for t in tables:
        shutil.copyfile(
            os.path.join(sf_dir, f"{t}.parquet"), dst_dir / f"{t}.parquet"
        )
    return str(dst_dir)


def _touch(path: str) -> None:
    st = os.stat(path)
    os.utime(path, ns=(st.st_atime_ns, st.st_mtime_ns + 1_000_000_000))


def test_memo_rebuilds_only_when_source_stamp_changes(spark, sf_dir, tmp_path):
    sf = _fixture_copy(sf_dir, tmp_path / "sf0.001", "documents")
    src = os.path.join(sf, "documents.parquet")
    calls = []

    def build():
        calls.append(1)
        return spark.read.parquet(src)

    a = cacheutil.memo(spark, "test.memo", [src], build)
    # unchanged stamp: same handle, build not called again
    assert cacheutil.memo(spark, "test.memo", [src], build) is a
    assert len(calls) == 1
    # touched (same bytes, new mtime): rebuilt
    _touch(src)
    b = cacheutil.memo(spark, "test.memo", [src], build)
    assert b is not a and len(calls) == 2
    # rewritten in place: rebuilt, and the new artifact sees the new rows
    pq.write_table(pq.read_table(src).slice(0, 10), src)
    c = cacheutil.memo(spark, "test.memo", [src], build)
    assert c is not b and len(calls) == 3
    assert c.count() == 10
    assert cacheutil.memo(spark, "test.memo", [src], build) is c
    assert len(calls) == 3


def test_memo_builds_once_per_tag_and_tags_build_in_parallel(sf_dir):
    """Concurrent callers of one tag share one build; a build of one
    tag does not wait for a build of another tag."""
    fake = SimpleNamespace(sparkContext=SimpleNamespace(applicationId="app-stress"))
    src = [os.path.join(sf_dir, "events.parquet")]
    a_started, b_started = threading.Event(), threading.Event()
    calls: list[str] = []

    def build_a():
        calls.append("a")
        a_started.set()
        # tag b must be able to build while tag a's lock is held
        assert b_started.wait(timeout=30)
        time.sleep(0.05)
        return ["a"]

    def build_b():
        calls.append("b")
        b_started.set()
        assert a_started.wait(timeout=30)
        return ["b"]

    results: list = []
    old_interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        threads = [
            threading.Thread(
                target=lambda tag=tag, build=build: results.append(
                    cacheutil.memo(fake, tag, src, build)
                )
            )
            for tag, build in [("test.stress_a", build_a)] * 8
            + [("test.stress_b", build_b)] * 8
        ]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=60)
            assert not t.is_alive()
    finally:
        sys.setswitchinterval(old_interval)
    assert sorted(calls) == ["a", "b"]
    assert len(results) == 16
    assert len({id(r) for r in results}) == 2


def test_kn5_scores_rebuild_after_source_rewrite(
    spark, sf_dir, tmp_path, monkeypatch
):
    """The shared KN5 score table must not outlive a rewrite of
    documents.parquet."""
    sf = _fixture_copy(sf_dir, tmp_path / "sf0.001", "documents")
    real = entry.corpus.kn5_logprob_scores
    calls = []

    def counting(*args, **kwargs):
        calls.append(1)
        return real(*args, **kwargs)

    monkeypatch.setattr(entry.corpus, "kn5_logprob_scores", counting)
    a = entry._kn5_scores_shared(spark, sf)
    assert entry._kn5_scores_shared(spark, sf) is a
    assert len(calls) == 1
    _touch(os.path.join(sf, "documents.parquet"))
    b = entry._kn5_scores_shared(spark, sf)
    assert b is not a
    assert len(calls) == 2


@pytest.fixture
def index_sf(sf_dir, tmp_path):
    """A fixture copy whose index roots are removed afterwards."""
    sf = _fixture_copy(sf_dir, tmp_path / f"sf_idx_{os.getpid()}", "events")
    yield sf
    for kind in ("test_crash", "events_bloom"):
        shutil.rmtree(entry._tmp_root(kind, sf), ignore_errors=True)


def test_index_rebuilds_after_build_that_raised(spark, index_sf):
    """A build that commits and then raises leaves no stamp, so the
    next call rebuilds instead of serving the partial table."""
    calls = []

    def crashing(cat, table, df):
        calls.append("crash")
        cat.create_table(table, df.limit(5), mode="replace")
        raise RuntimeError("killed after the first commit")

    def complete(cat, table, df):
        calls.append("build")
        cat.create_table(table, df, mode="replace")

    with pytest.raises(RuntimeError):
        entry._index(spark, index_sf, "test_crash", "t", "events", crashing)
    cat = entry._index(spark, index_sf, "test_crash", "t", "events", complete)
    assert calls == ["crash", "build"]
    n = spark.read.parquet(os.path.join(index_sf, "events.parquet")).count()
    assert cat.read("t").count() == n
    # fresh now: no third build
    entry._index(spark, index_sf, "test_crash", "t", "events", complete)
    assert calls == ["crash", "build"]


def test_events_bloom_rebuilds_after_crash_between_commits(
    spark, index_sf, monkeypatch
):
    """The bloom index lands in 8 commits; dying after the first must
    not leave a 1-of-8-shards table that later runs treat as fresh."""
    real_append = Catalog.append

    def dying_append(self, *args, **kwargs):
        raise RuntimeError("killed between commits")

    monkeypatch.setattr(Catalog, "append", dying_append)
    with pytest.raises(RuntimeError):
        entry.INDEXES["events_bloom"](spark, index_sf)
    monkeypatch.setattr(Catalog, "append", real_append)
    cat = entry.INDEXES["events_bloom"](spark, index_sf)
    n = spark.read.parquet(os.path.join(index_sf, "events.parquet")).count()
    assert cat.read("events_bloom").count() == n
