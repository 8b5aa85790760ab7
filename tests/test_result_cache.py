"""The SQL endpoint's snapshot-exact result cache (server.py): a
repeated query over unchanged catalog snapshots is answered from a copy
of its stored result with no Spark job, and every commit, tag move or
view change it depends on — from this catalog or another — makes the
next run re-execute. Every repeat is compared with an uncached
``LakehouseSql`` run of the same statement."""

from __future__ import annotations

import itertools
import json
import os
import subprocess
import sys
import threading
import urllib.request

import pytest

from data_lakehouse_spark import server
from data_lakehouse_spark.catalog import Catalog
from data_lakehouse_spark.server import SqlEndpoint
from data_lakehouse_spark.session import collect
from data_lakehouse_spark.sql import LakehouseSql

pytestmark = [
    pytest.mark.filterwarnings("error::ResourceWarning"),
    pytest.mark.filterwarnings("error::pytest.PytestUnraisableExceptionWarning"),
]

SCHEMA = "id long, v string"
_GROUPS = itertools.count()


def _fresh(cat, sql: str, limit: int = 1000) -> list:
    """The rows of ``sql`` run through a new router, no cache."""
    df = LakehouseSql(cat).execute(sql)
    return [[server._plain(x) for x in r] for r in collect(df.limit(limit))]


def _same(ep, cat, sql: str, session: str | None = None) -> dict:
    """Run ``sql`` on the endpoint and check it against a fresh run."""
    out = ep.execute(sql, session=session)
    assert out["rows"] == _fresh(cat, sql), sql
    return out


@pytest.fixture()
def endpoint():
    """Start endpoints over a catalog; every one is stopped after the
    test (an endpoint holds its listening socket from construction)."""
    started = []

    def make(cat) -> SqlEndpoint:
        started.append(SqlEndpoint(cat).start())
        return started[-1]

    yield make
    for ep in started:
        ep.stop()


def _stats(ep) -> dict:
    return ep._results.metrics()


def _catalog(spark, tmp_path, rows=((1, "a"), (2, "b"))) -> Catalog:
    cat = Catalog(spark, str(tmp_path / "w"))
    cat.create_table("t", spark.createDataFrame(list(rows), SCHEMA).coalesce(1))
    return cat


def _jobs(spark, fn):
    """(fn(), ids of the Spark jobs it started)."""
    sc = spark.sparkContext
    group = f"result-cache-{next(_GROUPS)}"
    sc.setJobGroup(group, "counted")
    try:
        out = fn()
        jobs = sc.statusTracker().getJobIdsForGroup(group)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, sorted(jobs)


Q = "SELECT id, v FROM t ORDER BY id"


@pytest.mark.parametrize("q", [
    Q,
    "WITH c AS (SELECT v, COUNT(*) AS n FROM t GROUP BY v) "
    "SELECT * FROM c JOIN c AS d USING (v) ORDER BY v",
    "SELECT id FROM t WHERE id IN (SELECT MAX(id) FROM t)",
])
def test_hit_runs_no_spark_job(spark, tmp_path, endpoint, q):
    cat = _catalog(spark, tmp_path)
    ep = endpoint(cat)
    first, jobs = _jobs(spark, lambda: ep.execute(q))
    assert jobs, "the miss runs the query"
    again, jobs = _jobs(spark, lambda: ep.execute(q))
    assert jobs == []
    assert again == first and again["rows"] == _fresh(cat, q)
    m = _stats(ep)
    assert (m["hits"], m["misses"], m["entries"]) == (1, 1, 1)
    assert 0 < m["bytes"] <= m["budget_bytes"] == server.RESULT_CACHE_BYTES


@pytest.mark.parametrize("commit", ["append", "overwrite", "mor_delete"])
def test_commit_shows_new_rows(spark, tmp_path, endpoint, commit):
    cat = _catalog(spark, tmp_path)
    ep = endpoint(cat)
    _same(ep, cat, Q)
    _same(ep, cat, Q)
    new = spark.createDataFrame([(3, "c")], SCHEMA)
    if commit == "append":
        cat.append("t", new)
    elif commit == "overwrite":
        cat.overwrite("t", new)
    else:
        cat.delete_where("t", "id = 1", mode="mor")
    out = _same(ep, cat, Q)
    assert out["rows"] == {
        "append": [[1, "a"], [2, "b"], [3, "c"]],
        "overwrite": [[3, "c"]],
        "mor_delete": [[2, "b"]],
    }[commit]
    assert _stats(ep)["hits"] == 1


def test_commit_by_another_catalog_on_the_same_root(spark, tmp_path, endpoint):
    cat = _catalog(spark, tmp_path)
    ep = endpoint(cat)
    _same(ep, cat, Q)
    other = Catalog(spark, cat.root)
    other.append("t", spark.createDataFrame([(3, "c")], SCHEMA))
    assert _same(ep, cat, Q)["rows"][-1] == [3, "c"]
    other.drop_table("t")
    other.create_table("t", spark.createDataFrame([(9, "z")], SCHEMA))
    assert _same(ep, cat, Q)["rows"] == [[9, "z"]]
    assert _stats(ep)["hits"] == 0


def test_view_sees_base_commit_and_replaced_definition(spark, tmp_path, endpoint):
    cat = _catalog(spark, tmp_path)
    cat.create_view("vt", "SELECT v, COUNT(*) AS n FROM t GROUP BY v")
    ep = endpoint(cat)
    q = "SELECT * FROM vt ORDER BY v"
    _same(ep, cat, q)
    _same(ep, cat, q)
    assert _stats(ep)["hits"] == 1
    cat.append("t", spark.createDataFrame([(3, "a")], SCHEMA))
    assert _same(ep, cat, q)["rows"] == [["a", 2], ["b", 1]]
    ep.execute(
        "CREATE OR REPLACE VIEW vt AS SELECT v, MAX(id) AS n FROM t GROUP BY v"
    )
    assert _same(ep, cat, q)["rows"] == [["a", 3], ["b", 2]]
    assert _stats(ep)["hits"] == 1


def test_moved_tag_and_version_reads(spark, tmp_path, endpoint):
    cat = _catalog(spark, tmp_path)
    cat.append("t", spark.createDataFrame([(3, "c")], SCHEMA))   # v1
    cat.create_tag("t", "audit", 0)
    ep = endpoint(cat)
    tag_q = "SELECT id FROM t VERSION AS OF 'audit' ORDER BY id"
    ver_q = "SELECT id FROM t VERSION AS OF 0 ORDER BY id"
    assert _same(ep, cat, tag_q)["rows"] == [[1], [2]]
    _same(ep, cat, ver_q)
    cat.drop_tag("t", "audit")
    cat.create_tag("t", "audit", 1)
    assert _same(ep, cat, tag_q)["rows"] == [[1], [2], [3]]
    # a pinned version reads the same rows after a tag move or a commit
    cat.append("t", spark.createDataFrame([(4, "d")], SCHEMA))
    assert _same(ep, cat, ver_q)["rows"] == [[1], [2]]


_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _in_another_process(root: str, code: str) -> None:
    """Run ``code`` with ``cat``, a :class:`Catalog` on ``root``, in a
    fresh Python process (no Spark session: tag and view writes need
    none)."""
    subprocess.run(
        [sys.executable, "-c",
         "import sys\n"
         "from data_lakehouse_spark.catalog import Catalog\n"
         "cat = Catalog(None, sys.argv[1])\n" + code, root],
        cwd=_REPO, check=True, timeout=120,
    )


@pytest.mark.parametrize("change", ["tag", "view"])
def test_equal_size_rewrites_within_one_tick(
    spark, tmp_path, endpoint, monkeypatch, change
):
    """The filesystem may report one (inode, mtime, size) for two
    rewrites of a small metadata file — same tick, reused inode, same
    length — and another process made them, so nothing in this one
    saw the write: the file's content still moves the stamp."""
    cat = _catalog(spark, tmp_path)
    cat.append("t", spark.createDataFrame([(3, "c")], SCHEMA))   # v1
    if change == "tag":
        cat.create_tag("t", "audit", 0)
        path = os.path.join(cat.root, "t", "_tags.json")
        q = "SELECT id FROM t VERSION AS OF 'audit' ORDER BY id"
        code = "cat.drop_tag('t', 'audit')\ncat.create_tag('t', 'audit', 1)"
        want = [[1], [2], [3]]
    else:
        cat.create_view("vt", "SELECT MIN(id) AS n FROM t")
        path = os.path.join(cat.root, "_views.json")
        q = "SELECT n FROM vt"
        code = "cat.create_view('vt', 'SELECT MAX(id) AS n FROM t', replace=True)"
        want = [[3]]
    ep = endpoint(cat)
    first = _same(ep, cat, q)["rows"]
    real_stat, frozen = os.stat, os.stat(path)

    def stat(p, *args, **kwargs):
        st = real_stat(p, *args, **kwargs)
        return frozen if os.fspath(p) == path else st

    monkeypatch.setattr(os, "stat", stat)
    _in_another_process(cat.root, code)
    assert real_stat(path).st_size == frozen.st_size
    assert _same(ep, cat, q)["rows"] == want != first
    assert _stats(ep)["hits"] == 0


def test_stale_registration_waits_for_the_analysis(
    spark, tmp_path, endpoint, monkeypatch
):
    """Temp views are global to the Spark session. A concurrent
    statement that resolved ``t`` before a commit and registers it
    late must not land between this statement's registration and its
    analysis: this statement would then read the old snapshot, and its
    result would be stored under the new snapshot's key."""
    cat = _catalog(spark, tmp_path)
    stale = cat.read("t")                                        # v0
    cat.append("t", spark.createDataFrame([(3, "c")], SCHEMA))   # v1
    want = [[1, "a"], [2, "b"], [3, "c"]]
    ep = endpoint(cat)
    real_read, real_register = cat.read, cat.register_views
    late = threading.Thread(target=real_register, kwargs={"names": {"t"}})

    def read(name, *args, **kwargs):
        # the late statement resolved ``t`` before the append
        if threading.current_thread() is late:
            return stale
        return real_read(name, *args, **kwargs)

    def register_views(*args, **kwargs):
        real_register(*args, **kwargs)
        if late.ident is None:
            late.start()
            late.join(1.0)  # time enough to land, were it not held off

    monkeypatch.setattr(cat, "read", read)
    monkeypatch.setattr(cat, "register_views", register_views)
    out = ep.execute(Q)
    late.join(60)
    assert not late.is_alive()
    assert out["rows"] == want
    # the late registration has landed now; the stored result is v1's
    assert _same(ep, cat, Q)["rows"] == want
    assert _stats(ep)["hits"] == 1


@pytest.mark.parametrize(
    "expr, reason",
    [
        ("rand()", "nondeterministic"),
        ("uuid()", "nondeterministic"),
        ("current_timestamp()", "time_or_user_function"),
        ("current_date()", "time_or_user_function"),
    ],
)
def test_volatile_functions_re_execute(spark, tmp_path, endpoint, expr, reason):
    cat = _catalog(spark, tmp_path)
    ep = endpoint(cat)
    q = f"SELECT id, {expr} AS x FROM t ORDER BY id"
    for _ in range(2):
        _, jobs = _jobs(spark, lambda: ep.execute(q))
        assert jobs
    m = _stats(ep)
    assert (m["hits"], m["entries"]) == (0, 0)
    assert m["uncacheable"] == {reason: 2}


def test_transaction_neither_reads_nor_fills_the_cache(spark, tmp_path, endpoint):
    cat = _catalog(spark, tmp_path)
    ep = endpoint(cat)
    _same(ep, cat, Q, session="s")
    ep.execute("BEGIN", session="s")
    ep.execute("INSERT INTO t VALUES (3, 'c')", session="s")
    inside = ep.execute(Q, session="s")
    assert inside["rows"] == [[1, "a"], [2, "b"], [3, "c"]]
    # other sessions read the published snapshot
    assert _same(ep, cat, Q, session="other")["rows"] == [[1, "a"], [2, "b"]]
    m = _stats(ep)
    assert m["uncacheable"] == {"transaction": 1}
    ep.execute("COMMIT", session="s")
    assert _same(ep, cat, Q, session="s")["rows"][-1] == [3, "c"]


def test_path_read_is_never_cached(spark, tmp_path, endpoint):
    cat = _catalog(spark, tmp_path)
    ep = endpoint(cat)
    d = os.path.join(cat.root, "t", "v00000")
    q = f"SELECT id FROM parquet.`{d}` ORDER BY id"
    for _ in range(2):
        assert ep.execute(q)["rows"] == [[1], [2]]
    m = _stats(ep)
    assert (m["hits"], m["entries"]) == (0, 0)
    assert m["uncacheable"] == {"path_read": 2}


def test_foreign_view_in_a_subquery_is_never_cached(spark, tmp_path, endpoint):
    """A temp view the catalog did not register can change under an
    unchanged stamp, also when only a subquery reads it."""
    cat = _catalog(spark, tmp_path)
    ep = endpoint(cat)
    q = "SELECT id FROM t WHERE id IN (SELECT id FROM ext_ids) ORDER BY id"
    spark.createDataFrame([(1,)], "id long").createOrReplaceTempView("ext_ids")
    assert _same(ep, cat, q)["rows"] == [[1]]
    spark.createDataFrame([(2,)], "id long").createOrReplaceTempView("ext_ids")
    assert _same(ep, cat, q)["rows"] == [[2]]
    spark.catalog.dropTempView("ext_ids")
    m = _stats(ep)
    assert (m["hits"], m["entries"]) == (0, 0)
    assert m["uncacheable"] == {"non_catalog_leaf": 2}


def test_caller_changes_leave_the_stored_result(spark, tmp_path, endpoint):
    cat = Catalog(spark, str(tmp_path / "w"))
    cat.create_table(
        "gold_daily_sales_summary",
        spark.createDataFrame(
            [("2024-01-01", 100.0, 2, 50.0, 4.0, 60.0, 5)],
            "sale_date string, total_revenue double, total_orders bigint, "
            "avg_order_value double, conversion_rate double, "
            "cart_abandonment_rate double, total_carts bigint",
        ),
    )
    ep = endpoint(cat)
    chart = ep.run_chart("daily-revenue-orders")  # adds "chart" and "sql"
    chart["rows"].clear()
    again = ep.run_chart("daily-revenue-orders")
    assert _stats(ep)["hits"] == 1
    assert again["chart"] == "Daily Revenue & Orders"
    assert again["rows"] == _fresh(cat, again["sql"]) == [["2024-01-01", 100.0, 2]]
    limit = next(
        c.row_limit for c in ep.assets.charts if c.name == again["chart"]
    )
    stored = ep.execute(again["sql"], limit=max(limit, 1))
    assert _stats(ep)["hits"] == 2
    assert "chart" not in stored and "sql" not in stored
    assert stored["rows"] == again["rows"]


def test_eviction_keeps_bytes_under_the_budget(spark, tmp_path, endpoint, monkeypatch):
    cat = _catalog(spark, tmp_path)
    ep = endpoint(cat)
    q = "SELECT id + {} AS x, v FROM t ORDER BY x"
    one = len(server.pickle.dumps(ep.execute(q.format(0)))) + len(q.format(0))
    monkeypatch.setattr(server, "RESULT_CACHE_BYTES", 3 * one)
    for i in range(1, 8):
        ep.execute(q.format(i))
        m = _stats(ep)
        assert m["bytes"] <= 3 * one
    assert 1 <= m["entries"] <= 3
    # the most recent results stay; the oldest went first
    hits = m["hits"]
    assert _same(ep, cat, q.format(7))
    assert _stats(ep)["hits"] == hits + 1
    _same(ep, cat, q.format(1))
    assert _stats(ep)["hits"] == hits + 1


def test_threaded_hits_misses_and_evictions(spark, tmp_path, endpoint, monkeypatch):
    """More client threads than cores, a short switch interval and a
    budget of two results: every answer is right, every lookup counts
    once, and the byte total is the sum of the entries kept."""
    cat = _catalog(spark, tmp_path)
    qs = [f"SELECT id * {k} AS x FROM t ORDER BY x" for k in range(1, 5)]
    want = {q: _fresh(cat, q) for q in qs}
    sizer = endpoint(cat)
    one = max(len(server.pickle.dumps(sizer.execute(q))) + len(q) for q in qs)
    monkeypatch.setattr(server, "RESULT_CACHE_BYTES", 2 * one)
    ep = endpoint(cat)
    errors, n, rounds = [], (os.cpu_count() or 2) + 2, 6

    def client(i: int) -> None:
        try:
            for r in range(rounds):
                q = qs[(i + r) % len(qs)]
                if ep.execute(q)["rows"] != want[q]:
                    errors.append(q)
        except Exception as e:  # surfaced by the assert below
            errors.append(repr(e))

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        ts = [threading.Thread(target=client, args=(i,)) for i in range(n)]
        for t in ts:
            t.start()
        for t in ts:
            t.join(300)
        assert not any(t.is_alive() for t in ts)
    finally:
        sys.setswitchinterval(interval)
    assert errors == []
    m = _stats(ep)
    assert m["hits"] + m["misses"] == n * rounds
    assert m["hits"] > 0 and m["misses"] > len(qs)  # evicted results re-ran
    kept = ep._results._entries.values()
    assert m["bytes"] == sum(size for _, size in kept) <= 2 * one
    assert m["entries"] == len(kept) <= 2


def test_metrics_route(spark, tmp_path, endpoint):
    cat = _catalog(spark, tmp_path)
    ep = endpoint(cat)
    ep.execute(Q)
    ep.execute(Q)
    ep.execute("SELECT rand() AS r FROM t")
    with urllib.request.urlopen(
        f"http://127.0.0.1:{ep.port}/metrics", timeout=60
    ) as r:
        m = json.loads(r.read())["result_cache"]
    assert m["hits"] == 1 and m["misses"] == 2 and m["entries"] == 1
    assert m["uncacheable"] == {"nondeterministic": 1}
    assert 0 < m["bytes"] <= m["budget_bytes"]
