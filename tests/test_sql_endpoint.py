"""Long-lived multi-client SQL endpoint (server.py): concurrent
clients over one shared SparkSession, fresh-snapshot visibility, error
surfacing — the Thrift-server-serving-dbt analog
(dbt/profiles.yml:5-9)."""

from __future__ import annotations

import gc
import json
import threading
import urllib.request

import pytest

from data_lakehouse_spark.catalog import Catalog
from data_lakehouse_spark.server import SqlEndpoint

#: a socket the endpoint leaves to the garbage collector fails the test
#: that leaked it, on the cache-hit and the miss path alike
pytestmark = [
    pytest.mark.filterwarnings("error::ResourceWarning"),
    pytest.mark.filterwarnings("error::pytest.PytestUnraisableExceptionWarning"),
]


def _post(port: int, sql: str, limit: int = 1000) -> dict:
    req = urllib.request.Request(
        f"http://127.0.0.1:{port}/sql",
        data=json.dumps({"sql": sql, "limit": limit}).encode(),
        headers={"Content-Type": "application/json"},
        method="POST",
    )
    try:
        with urllib.request.urlopen(req, timeout=120) as r:
            return json.loads(r.read())
    except urllib.error.HTTPError as e:
        return json.loads(e.read())


def test_endpoint_concurrent_clients(spark, tmp_path):
    cat = Catalog(spark, str(tmp_path / "w"))
    cat.create_table(
        "sales",
        spark.createDataFrame(
            [("a", 10.0), ("a", 5.0), ("b", 7.0)], "seg string, amt double"
        ),
    )
    cat.create_view(
        "seg_totals",
        "SELECT seg, CAST(SUM(amt) AS DOUBLE) AS total FROM sales "
        "GROUP BY seg",
    )
    ep = SqlEndpoint(cat).start()
    try:
        # two clients fire CONCURRENTLY against the shared session
        results: dict[str, dict] = {}

        def client(name: str, sql: str) -> None:
            results[name] = _post(ep.port, sql)

        t1 = threading.Thread(
            target=client,
            args=("sum", "SELECT seg, SUM(amt) AS t FROM sales "
                  "GROUP BY seg ORDER BY seg"),
        )
        t2 = threading.Thread(
            target=client, args=("cnt", "SELECT COUNT(*) AS n FROM sales")
        )
        t1.start(); t2.start(); t1.join(120); t2.join(120)
        assert results["sum"]["rows"] == [["a", 15.0], ["b", 7.0]]
        assert results["cnt"]["rows"] == [[3]]

        # writes through the engine become visible to the NEXT query —
        # the endpoint always serves the latest published snapshot
        cat.append(
            "sales",
            spark.createDataFrame([("c", 1.0)], "seg string, amt double"),
        )
        assert _post(ep.port, "SELECT COUNT(*) AS n FROM sales")["rows"] == [
            [4]
        ]

        # /tables, limit/truncation, and analysis errors as 400-JSON
        with urllib.request.urlopen(
            f"http://127.0.0.1:{ep.port}/tables", timeout=60
        ) as r:
            assert "sales" in json.loads(r.read())["tables"]
        limited = _post(ep.port, "SELECT * FROM sales", limit=2)
        assert limited["n"] == 2 and limited["truncated"] is True
        err = _post(ep.port, "SELECT nope FROM sales")
        assert "error" in err
    finally:
        ep.stop()


def test_endpoint_dml_and_read_only(spark, tmp_path):
    """The reference's Thrift endpoint is what dbt MATERIALIZES through
    — the endpoint must accept the full statement surface, and a
    read_only endpoint must refuse writes BEFORE executing them."""
    cat = Catalog(spark, str(tmp_path / "w2"))
    ep = SqlEndpoint(cat).start()
    try:
        out = _post(
            ep.port,
            "CREATE TABLE t AS SELECT * FROM VALUES (1, 'a'), (2, 'b') "
            "AS v(id, tag)",
        )
        assert out["stats"]["op"] == "create_table"
        _post(ep.port, "INSERT INTO t VALUES (3, 'c')")
        upd = _post(ep.port, "UPDATE t SET tag = upper(tag) WHERE id = 1")
        assert upd["stats"]["op"] == "update"
        got = _post(ep.port, "SELECT tag FROM t ORDER BY id")
        assert got["rows"] == [["A"], ["b"], ["c"]]
        # time travel through the endpoint
        v0 = _post(ep.port, "SELECT COUNT(*) AS n FROM t VERSION AS OF 0")
        assert v0["rows"] == [[2]]
    finally:
        ep.stop()

    ro = SqlEndpoint(cat, read_only=True).start()
    try:
        ok = _post(ro.port, "SELECT COUNT(*) AS n FROM t")
        assert ok["rows"] == [[3]]
        denied = _post(ro.port, "DELETE FROM t")
        assert "read-only" in denied["error"]
        assert cat.row_count("t") == 3  # nothing executed
    finally:
        ro.stop()


def _get(port: int, path: str) -> dict:
    import urllib.error

    try:
        with urllib.request.urlopen(
            f"http://127.0.0.1:{port}{path}", timeout=120
        ) as r:
            return json.loads(r.read())
    except urllib.error.HTTPError as e:
        return json.loads(e.read())


def test_endpoint_serves_dashboard_charts(spark, tmp_path):
    """/dashboard lists the declarative BI bundle; /chart/<slug> runs
    the compiled tile query against the LATEST mart snapshot (the live
    twin of the reference's Superset warmup, dags/06:514-531)."""
    cat = Catalog(spark, str(tmp_path / "w"))
    cat.create_table(
        "gold_daily_sales_summary",
        spark.createDataFrame(
            [("2024-01-01", 100.0, 2, 50.0, 4.0, 60.0, 5),
             ("2024-01-02", 30.0, 1, 30.0, 2.0, 75.0, 4)],
            "sale_date string, total_revenue double, total_orders bigint, "
            "avg_order_value double, conversion_rate double, "
            "cart_abandonment_rate double, total_carts bigint",
        ),
    )
    ep = SqlEndpoint(cat).start()
    try:
        dash = _get(ep.port, "/dashboard")
        assert dash["slug"] == "ecommerce-lakehouse-analytics"
        assert len(dash["charts"]) == 7
        assert "daily-revenue-orders" in dash["charts"]
        assert dash["charts"]["daily-revenue-orders"]["position"] is not None

        out = _get(ep.port, "/chart/daily-revenue-orders")
        assert out["chart"] == "Daily Revenue & Orders"
        assert out["columns"] == ["sale_date", "revenue", "orders"]
        assert out["rows"] == [["2024-01-01", 100.0, 2],
                               ["2024-01-02", 30.0, 1]]

        # fresh-snapshot visibility: append, chart reflects it
        cat.append("gold_daily_sales_summary", spark.createDataFrame(
            [("2024-01-03", 7.0, 1, 7.0, 1.0, 0.0, 1)],
            "sale_date string, total_revenue double, total_orders bigint, "
            "avg_order_value double, conversion_rate double, "
            "cart_abandonment_rate double, total_carts bigint",
        ))
        out = _get(ep.port, "/chart/daily-revenue-orders")
        assert len(out["rows"]) == 3

        assert "error" in _get(ep.port, "/chart/nope")
    finally:
        ep.stop()


def _post_s(port: int, sql: str, session: str | None = None) -> dict:
    req = urllib.request.Request(
        f"http://127.0.0.1:{port}/sql",
        data=json.dumps({"sql": sql, "session": session}).encode(),
        headers={"Content-Type": "application/json"},
        method="POST",
    )
    try:
        with urllib.request.urlopen(req, timeout=120) as r:
            return json.loads(r.read())
    except urllib.error.HTTPError as e:
        return json.loads(e.read())


def test_endpoint_transaction_sessions(spark, tmp_path):
    """BEGIN…COMMIT over the wire on a named session: the transaction's
    staged writes are invisible to other clients until COMMIT, while
    the owning session reads its own writes."""
    cat = Catalog(spark, str(tmp_path / "w"))
    cat.create_table("t", spark.createDataFrame([(1,)], "id long"))
    ep = SqlEndpoint(cat).start()
    try:
        out = _post_s(ep.port, "BEGIN", "alice")
        assert out["stats"]["op"] == "begin"
        out = _post_s(ep.port, "INSERT INTO t VALUES (2)", "alice")
        assert out["stats"]["rows_inserted"] == 1

        # alice sees her staged row; bob (and anonymous) do not
        a = _post_s(ep.port, "SELECT COUNT(*) AS n FROM t", "alice")
        assert a["rows"][0][0] == 2
        b = _post_s(ep.port, "SELECT COUNT(*) AS n FROM t", "bob")
        assert b["rows"][0][0] == 1
        anon = _post_s(ep.port, "SELECT COUNT(*) AS n FROM t")
        assert anon["rows"][0][0] == 1

        out = _post_s(ep.port, "COMMIT", "alice")
        assert out["stats"]["op"] == "commit"
        b = _post_s(ep.port, "SELECT COUNT(*) AS n FROM t", "bob")
        assert b["rows"][0][0] == 2

        # a rollback session leaves the table untouched
        _post_s(ep.port, "BEGIN", "carol")
        _post_s(ep.port, "INSERT INTO t VALUES (9)", "carol")
        _post_s(ep.port, "ROLLBACK", "carol")
        assert _post_s(ep.port, "SELECT COUNT(*) AS n FROM t")["rows"][0][0] == 2

        # transaction state is PER SESSION: bob has none to commit
        assert "error" in _post_s(ep.port, "COMMIT", "bob")
    finally:
        ep.stop()


def test_endpoint_sessionless_txn_rejected(spark, tmp_path):
    """BEGIN/COMMIT/ROLLBACK without a named session are refused up
    front: an anonymous router dies with the request, so a sessionless
    BEGIN would silently auto-commit every later statement."""
    cat = Catalog(spark, str(tmp_path / "w"))
    cat.create_table("t", spark.createDataFrame([(1,)], "id long"))
    ep = SqlEndpoint(cat).start()
    try:
        for stmt in ("BEGIN", "START TRANSACTION", "COMMIT", "ROLLBACK"):
            out = _post_s(ep.port, stmt)
            assert "error" in out and "session" in out["error"], stmt
        # and the table was never touched by any of that
        assert (
            _post_s(ep.port, "SELECT COUNT(*) AS n FROM t")["rows"][0][0]
            == 1
        )
    finally:
        ep.stop()


def test_endpoint_txn_rows_inserted_per_statement(spark, tmp_path):
    """Two INSERTs into the same table within one transaction each
    report THEIR OWN row count (staged appends stack; the second must
    baseline against the first staged version, not the published
    head)."""
    cat = Catalog(spark, str(tmp_path / "w"))
    cat.create_table("t", spark.createDataFrame([(1,)], "id long"))
    ep = SqlEndpoint(cat).start()
    try:
        _post_s(ep.port, "BEGIN", "a")
        r1 = _post_s(ep.port, "INSERT INTO t VALUES (2), (3)", "a")
        r2 = _post_s(ep.port, "INSERT INTO t VALUES (4)", "a")
        assert r1["stats"]["rows_inserted"] == 2
        assert r2["stats"]["rows_inserted"] == 1
        _post_s(ep.port, "COMMIT", "a")
        assert (
            _post_s(ep.port, "SELECT COUNT(*) AS n FROM t")["rows"][0][0]
            == 4
        )
    finally:
        ep.stop()


def test_endpoint_txn_timeout_autorollback(spark, tmp_path):
    """A transaction left open past txn_timeout is rolled back by the
    reaper, so an abandoned client can't serialize the endpoint or
    block unstaged writers forever; idle sessions past session_timeout
    are evicted."""
    cat = Catalog(spark, str(tmp_path / "w"))
    cat.create_table("t", spark.createDataFrame([(1,)], "id long"))
    ep = SqlEndpoint(cat).start()
    try:
        _post_s(ep.port, "BEGIN", "ghost")
        _post_s(ep.port, "INSERT INTO t VALUES (9)", "ghost")
        ep.txn_timeout = 0.0  # ghost now expires on the next request
        # any later request triggers the reap: ghost's txn rolls back
        out = _post_s(ep.port, "SELECT COUNT(*) AS n FROM t", "other")
        assert out["rows"][0][0] == 1
        # ghost's session survives (only its txn died): COMMIT now errors
        assert "error" in _post_s(ep.port, "COMMIT", "ghost")
        # the session is flagged aborted: EVERY later statement fails
        # (idle-in-transaction semantics) — a client that still thinks
        # it is inside BEGIN must not silently run in autocommit
        out = _post_s(ep.port, "SELECT 1 AS one", "ghost")
        assert "error" in out and "timed out" in out["error"]
        out = _post_s(ep.port, "INSERT INTO t VALUES (7)", "ghost")
        assert "error" in out and "timed out" in out["error"]
        # explicit ROLLBACK acknowledges the abort and clears it (the
        # txn itself is long gone — the ack is synthetic, not routed)
        out = _post_s(ep.port, "ROLLBACK", "ghost")
        assert "error" not in out
        assert _post_s(ep.port, "SELECT 1 AS one", "ghost")["rows"] == [[1]]
        # an unstaged engine-side writer is no longer blocked
        cat.append("t", spark.createDataFrame([(2,)], "id long"))
        assert (
            _post_s(ep.port, "SELECT COUNT(*) AS n FROM t")["rows"][0][0]
            == 2
        )
        # idle-session eviction: age everything out, then the session
        # table is empty and a new request still works
        ep.session_timeout = 0.0
        _post_s(ep.port, "SELECT 1 AS one", "fresh")
        assert set(ep._sessions) <= {"fresh"}
    finally:
        ep.stop()


def test_endpoint_reaper_skips_pinned_sessions(spark, tmp_path):
    """Pin-before-gate invariant (server.py post-gate aborted check):
    a statement pins its session under _lock BEFORE blocking on the
    gate, and the reaper must skip pinned sessions at both its snapshot
    and its under-lock re-check — otherwise a statement blocked on the
    gate could wake up on a rolled-back session. This test makes the
    reaper side of that invariant explicit: an expired-transaction
    session with pinned != 0 is never reaped (aborted never flips, the
    txn stays open); the same session unpinned is reaped on the next
    sweep."""
    cat = Catalog(spark, str(tmp_path / "w"))
    cat.create_table("t", spark.createDataFrame([(1,)], "id long"))
    ep = SqlEndpoint(cat).start()
    try:
        _post_s(ep.port, "BEGIN", "busy")
        _post_s(ep.port, "INSERT INTO t VALUES (9)", "busy")
        ep.txn_timeout = 0.0  # txn is now expired by age
        sess = ep._sessions["busy"]
        sess.pinned = 1  # simulate an in-flight request blocked on the gate
        ep._reap()
        assert sess.aborted is None
        assert sess.txn_opened_at is not None
        # unpinned, the same sweep rolls it back and flags the session
        sess.pinned = 0
        ep._reap()
        assert sess.aborted is not None
        assert sess.txn_opened_at is None
    finally:
        ep.stop()


def test_endpoint_session_cap_lru_eviction(spark, tmp_path):
    """At max_sessions the least-recently-used transaction-free session
    is evicted to make room; sessions holding transactions are never
    evicted (their staged snapshots would be orphaned)."""
    cat = Catalog(spark, str(tmp_path / "w"))
    cat.create_table("t", spark.createDataFrame([(1,)], "id long"))
    ep = SqlEndpoint(cat).start()
    ep.max_sessions = 2
    try:
        _post_s(ep.port, "SELECT 1 AS one", "old")
        _post_s(ep.port, "SELECT 1 AS one", "new")
        _post_s(ep.port, "SELECT 1 AS one", "newest")  # evicts "old"
        assert "old" not in ep._sessions and "newest" in ep._sessions
        # with every slot holding an open txn, a new session is refused
        _post_s(ep.port, "BEGIN", "new")
        _post_s(ep.port, "BEGIN", "newest")
        out = _post_s(ep.port, "SELECT 1 AS one", "overflow")
        assert "error" in out and "open transactions" in out["error"]
        _post_s(ep.port, "ROLLBACK", "new")
        _post_s(ep.port, "ROLLBACK", "newest")
    finally:
        ep.stop()


def test_endpoint_isolation_under_concurrency(spark, tmp_path):
    """Stress the reader-writer gate: while one session runs
    BEGIN -> N INSERTs -> COMMIT cycles, concurrent readers on other
    sessions must only ever observe committed counts (the pre- or
    post-commit value of a cycle), never a mid-transaction staged
    count."""
    cat = Catalog(spark, str(tmp_path / "w"))
    cat.create_table("t", spark.createDataFrame([(0,)], "id long"))
    ep = SqlEndpoint(cat).start()
    try:
        committed = {1}  # row counts that exist at commit points
        errors: list[str] = []
        observed: list[int] = []

        def writer():
            n = 1
            for cycle in range(4):
                _post_s(ep.port, "BEGIN", "w")
                # two staged inserts per cycle: mid-txn counts n+1, n+2
                # must never be visible to the readers
                _post_s(
                    ep.port, f"INSERT INTO t VALUES ({10*cycle+1})", "w"
                )
                _post_s(
                    ep.port, f"INSERT INTO t VALUES ({10*cycle+2})", "w"
                )
                n += 2
                committed.add(n)
                _post_s(ep.port, "COMMIT", "w")

        def reader(name: str):
            for _ in range(12):
                out = _post_s(
                    ep.port, "SELECT COUNT(*) AS n FROM t", name
                )
                if "error" in out:
                    errors.append(out["error"])
                    return
                observed.append(out["rows"][0][0])

        ts = [threading.Thread(target=writer)] + [
            threading.Thread(target=reader, args=(f"r{i}",))
            for i in range(3)
        ]
        for t in ts:
            t.start()
        for t in ts:
            t.join(300)
        assert not errors, errors
        # every observation is a committed count: odd (1, 3, 5, 7, 9),
        # never the even mid-transaction staged values
        bad = [n for n in observed if n not in committed]
        assert bad == [], f"readers saw staged counts: {bad}"
        assert (
            _post_s(ep.port, "SELECT COUNT(*) AS n FROM t")["rows"][0][0]
            == 9
        )
    finally:
        ep.stop()


def test_endpoint_sessions_introspection(spark, tmp_path):
    """GET /sessions lists named sessions with idle age and open-txn
    state (the Thrift session-UI analog)."""
    cat = Catalog(spark, str(tmp_path / "w"))
    cat.create_table("t", spark.createDataFrame([(1,)], "id long"))
    ep = SqlEndpoint(cat).start()
    try:
        _post_s(ep.port, "SELECT 1 AS one", "viewer")
        _post_s(ep.port, "BEGIN", "writer")
        out = _get(ep.port, "/sessions")
        assert out["n"] == 2 and out["max_sessions"] == 128
        assert out["sessions"]["viewer"]["txn_open"] is False
        assert out["sessions"]["writer"]["txn_open"] is True
        assert out["sessions"]["writer"]["txn_age_sec"] >= 0
        _post_s(ep.port, "ROLLBACK", "writer")
        out = _get(ep.port, "/sessions")
        assert out["sessions"]["writer"]["txn_open"] is False
    finally:
        ep.stop()


def test_endpoint_comment_prefixed_txn_verbs_guarded(spark, tmp_path):
    """A comment-prefixed BEGIN (or bare START) must hit the
    named-session guard — the router strips comments, so the guard
    must too."""
    cat = Catalog(spark, str(tmp_path / "w"))
    cat.create_table("t", spark.createDataFrame([(1,)], "id long"))
    ep = SqlEndpoint(cat).start()
    try:
        for stmt in ("-- open\nBEGIN", "/* x */ START", "START"):
            out = _post_s(ep.port, stmt)
            assert "error" in out and "session" in out["error"], stmt
        # and WITH a session, comment-prefixed BEGIN works normally
        out = _post_s(ep.port, "-- open\nBEGIN", "s1")
        assert out["stats"]["op"] == "begin"
        _post_s(ep.port, "ROLLBACK", "s1")
    finally:
        ep.stop()


def test_endpoint_request_validation_and_nonfinite_floats(spark, tmp_path):
    """Malformed bodies get a 400 JSON error (never a dropped
    connection); negative limits clamp to 0; NaN/Infinity all render
    as null so numeric columns stay single-typed for consumers."""
    cat = Catalog(spark, str(tmp_path / "w"))
    cat.create_table("t", spark.createDataFrame([(1,)], "id long"))
    ep = SqlEndpoint(cat).start()
    try:
        import urllib.error

        def raw_post(body: bytes) -> dict:
            req = urllib.request.Request(
                f"http://127.0.0.1:{ep.port}/sql",
                data=body,
                headers={"Content-Type": "application/json"},
                method="POST",
            )
            try:
                with urllib.request.urlopen(req, timeout=60) as r:
                    return json.loads(r.read())
            except urllib.error.HTTPError as e:
                return json.loads(e.read())

        # non-object JSON bodies: 400, not a crashed handler
        assert "error" in raw_post(b'"SELECT 1"')
        assert "error" in raw_post(b"[1, 2]")
        assert "error" in raw_post(b'{"sql": 42}')
        assert "error" in raw_post(b'{"sql": "SELECT 1", "session": {}}')

        # negative limit clamps to zero rows, no Spark analysis error
        out = raw_post(b'{"sql": "SELECT id FROM t", "limit": -3}')
        assert out.get("rows") == [] and "error" not in out

        # non-finite floats serialize as legal JSON
        out = _post(
            ep.port,
            "SELECT CAST('NaN' AS DOUBLE) AS n, "
            "CAST('Infinity' AS DOUBLE) AS p, "
            "CAST('-Infinity' AS DOUBLE) AS m",
        )
        assert out["rows"] == [[None, None, None]]
    finally:
        ep.stop()


def test_endpoint_queries_leave_no_socket_behind(spark, tmp_path):
    """A miss, a hit and an uncacheable query over HTTP and in-process:
    every result socket is closed when its rows are read, so a full
    collection finds none left (a leak would raise here)."""
    cat = Catalog(spark, str(tmp_path / "w"))
    cat.create_table("t", spark.createDataFrame([(1,), (2,)], "id long"))
    ep = SqlEndpoint(cat).start()
    try:
        for _ in range(2):  # a miss, then a hit
            assert _post(ep.port, "SELECT id FROM t ORDER BY id")["rows"] == [
                [1], [2]
            ]
            assert ep.execute("SELECT COUNT(*) AS n FROM t")["rows"] == [[2]]
        assert len(_post(ep.port, "SELECT rand() AS r FROM t")["rows"]) == 2
        gc.collect()
    finally:
        ep.stop()
    gc.collect()
    m = ep._results.metrics()
    assert (m["hits"], m["misses"]) == (2, 3)


def test_session_collect_matches_pyspark_collect(spark):
    """``session.collect`` repeats PySpark 4.1's ``DataFrame.collect``
    calls and adds only the socket close: the rows are equal for every
    column type the endpoint serves, and an upgrade past the version it
    was written against fails here until it is checked again."""
    import warnings

    import pyspark

    from data_lakehouse_spark.session import collect

    assert pyspark.__version__.startswith("4.1."), pyspark.__version__
    df = spark.sql(
        "SELECT id, CAST(id AS STRING) AS s, id * 1.5 AS d, "
        "CAST(id AS DECIMAL(18, 2)) AS m, CAST(NULL AS INT) AS n, "
        "DATE'2024-01-01' + CAST(id % 30 AS INT) AS dt, "
        "TIMESTAMP'2024-01-01 00:00:00' AS ts, array(id, id) AS a, "
        "named_struct('x', id) AS st, map('k', id) AS mp "
        "FROM range(2500)"
    )
    with warnings.catch_warnings():
        # PySpark's own collect leaves its socket to the collector
        warnings.simplefilter("ignore", ResourceWarning)
        want, empty = df.collect(), df.limit(0).collect()
        gc.collect()
    assert collect(df) == want
    assert collect(df.limit(0)) == empty == []
