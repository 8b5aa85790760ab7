"""DBAPI 2.0 client (client.py) against a live SqlEndpoint: cursor
protocol, qmark binding, implicit transactions mapping to the endpoint's
named-session BEGIN…COMMIT, rollback-on-close."""

from __future__ import annotations

import datetime as dt

import pytest

from data_lakehouse_spark import client as dbapi
from data_lakehouse_spark.catalog import Catalog
from data_lakehouse_spark.server import SqlEndpoint
from data_lakehouse_spark.session import collect

#: a socket the client or the endpoint leaves to the garbage collector
#: fails the test that leaked it
pytestmark = [
    pytest.mark.filterwarnings("error::ResourceWarning"),
    pytest.mark.filterwarnings("error::pytest.PytestUnraisableExceptionWarning"),
]


@pytest.fixture()
def endpoint(spark, tmp_path):
    cat = Catalog(spark, str(tmp_path / "w"))
    cat.create_table(
        "sales",
        spark.createDataFrame(
            [(1, "a", 10.0), (2, "b", 7.5)], "id long, seg string, amt double"
        ),
    )
    ep = SqlEndpoint(cat).start()
    yield ep
    ep.stop()


def test_cursor_protocol_and_description(endpoint):
    conn = dbapi.connect(port=endpoint.port)
    cur = conn.cursor()
    cur.execute(
        "SELECT seg, SUM(amt) AS total FROM sales GROUP BY seg ORDER BY seg"
    )
    assert [d[0] for d in cur.description] == ["seg", "total"]
    assert [d[1] for d in cur.description] == ["string", "double"]
    assert cur.rowcount == 2
    assert cur.fetchone() == ("a", 10.0)
    assert cur.fetchmany(5) == [("b", 7.5)]
    assert cur.fetchone() is None
    cur.execute("SELECT id FROM sales ORDER BY id")
    assert list(cur) == [(1,), (2,)]
    assert cur.fetchall() == []  # iterator consumed the set
    conn.close()
    with pytest.raises(dbapi.InterfaceError):
        conn.cursor()


def test_qmark_binding(endpoint):
    conn = dbapi.connect(port=endpoint.port)
    cur = conn.cursor()
    cur.execute(
        "SELECT id FROM sales WHERE seg = ? AND amt > ? ORDER BY id",
        ("a", 1.5),
    )
    assert cur.fetchall() == [(1,)]
    # a ? INSIDE a string literal is not a placeholder
    cur.execute("SELECT '?' AS q, id FROM sales WHERE id = ?", (2,))
    assert cur.fetchall() == [("?", 2)]
    # strings with quotes bind safely
    cur.execute("SELECT ? AS s", ("it's ok",))
    assert cur.fetchone() == ("it's ok",)
    # dates/bools/None
    cur.execute("SELECT ? AS d, ? AS b, ? AS n", (dt.date(2024, 1, 2), True, None))
    row = cur.fetchone()
    assert str(row[0]) == "2024-01-02" and row[1] is True and row[2] is None
    with pytest.raises(dbapi.ProgrammingError, match="not enough"):
        cur.execute("SELECT ? AS a, ? AS b", (1,))
    with pytest.raises(dbapi.ProgrammingError, match="unused"):
        cur.execute("SELECT ? AS a", (1, 2))
    with pytest.raises(dbapi.InterfaceError, match="cannot bind"):
        cur.execute("SELECT ? AS a", ({"no": 1},))


def test_implicit_transaction_commit_and_rollback(spark, tmp_path):
    cat = Catalog(spark, str(tmp_path / "w"))
    cat.create_table("t", spark.createDataFrame([(1,)], "id long"))
    ep = SqlEndpoint(cat).start()
    try:
        conn = dbapi.connect(port=ep.port, autocommit=False)
        cur = conn.cursor()
        cur.execute("INSERT INTO t VALUES (2)")
        assert cur.rowcount == 1
        # uncommitted: this connection reads its own write...
        cur.execute("SELECT COUNT(*) AS n FROM t")
        assert cur.fetchone() == (2,)
        # ...another connection does not
        other = dbapi.connect(port=ep.port)
        oc = other.cursor()
        oc.execute("SELECT COUNT(*) AS n FROM t")
        assert oc.fetchone() == (1,)
        conn.commit()
        oc.execute("SELECT COUNT(*) AS n FROM t")
        assert oc.fetchone() == (2,)

        # rollback path: DBAPI close() rolls back the open transaction
        conn2 = dbapi.connect(port=ep.port, autocommit=False)
        c2 = conn2.cursor()
        c2.execute("INSERT INTO t VALUES (99)")
        conn2.close()
        oc.execute("SELECT COUNT(*) AS n FROM t")
        assert oc.fetchone() == (2,)
        other.close()
    finally:
        ep.stop()


def test_context_managers_commit_on_clean_exit(spark, tmp_path):
    cat = Catalog(spark, str(tmp_path / "w"))
    cat.create_table("t", spark.createDataFrame([(1,)], "id long"))
    ep = SqlEndpoint(cat).start()
    try:
        with dbapi.connect(port=ep.port, autocommit=False) as conn:
            with conn.cursor() as cur:
                cur.execute("INSERT INTO t VALUES (5)")
        check = dbapi.connect(port=ep.port)
        cc = check.cursor()
        cc.execute("SELECT COUNT(*) AS n FROM t")
        assert cc.fetchone() == (2,)

        # exception inside the with-block rolls back
        with pytest.raises(RuntimeError):
            with dbapi.connect(port=ep.port, autocommit=False) as conn:
                conn.cursor().execute("INSERT INTO t VALUES (6)")
                raise RuntimeError("boom")
        cc.execute("SELECT COUNT(*) AS n FROM t")
        assert cc.fetchone() == (2,)
        check.close()
    finally:
        ep.stop()


def test_executemany_accumulates_rowcount(spark, tmp_path):
    cat = Catalog(spark, str(tmp_path / "w"))
    cat.create_table("t", spark.createDataFrame([(0, "z")], "id long, s string"))
    ep = SqlEndpoint(cat).start()
    try:
        conn = dbapi.connect(port=ep.port)
        cur = conn.cursor()
        cur.executemany(
            "INSERT INTO t VALUES (?, ?)", [(1, "a"), (2, "b"), (3, "c'c")]
        )
        assert cur.rowcount == 3
        cur.execute("SELECT s FROM t WHERE id = 3")
        assert cur.fetchone() == ("c'c",)
        conn.close()
    finally:
        ep.stop()


def test_operational_error_when_endpoint_down():
    conn = dbapi.connect(port=1)  # nothing listens there
    with pytest.raises(dbapi.OperationalError):
        conn.cursor().execute("SELECT 1")


# ---------------------------------------------------------------------------
# property pins: literal rendering agrees with Spark's parser and the
# router's lexer for arbitrary strings
# ---------------------------------------------------------------------------

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from data_lakehouse_spark.client import _bind, _literal
from data_lakehouse_spark.sql import mask_strings

_TEXT = st.text(
    alphabet=st.characters(
        codec="utf-8", exclude_characters="\x00"
    ),
    max_size=40,
)


@settings(
    max_examples=60,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(_TEXT)
def test_string_literal_roundtrips_through_spark(spark, s):
    """Any NUL-free string binds to a literal Spark parses back to the
    exact original value."""
    out = collect(spark.sql(f"SELECT {_literal(s)} AS v"))[0][0]
    assert out == s


@settings(max_examples=100, deadline=None)
@given(_TEXT)
def test_bound_statement_lexes_cleanly(s):
    """The router's string-literal masker accepts every bound statement
    (no 'unterminated string literal'), and masking hides the bound
    content so structural regexes can't be confused by it."""
    stmt = _bind("SELECT ? AS v FROM t WHERE s = ?", (s, s))
    masked = mask_strings(stmt)  # must not raise
    assert len(masked) == len(stmt)


@settings(max_examples=60, deadline=None)
@given(
    st.one_of(
        st.none(),
        st.booleans(),
        st.integers(min_value=-(2**62), max_value=2**62),
        st.floats(allow_nan=False, allow_infinity=False, width=64),
        _TEXT,
    )
)
def test_placeholder_never_matches_inside_bound_literal(v):
    """A bound value containing '?' must not create new placeholders
    for a second bind position."""
    stmt = _bind("SELECT ?, '?' AS lit", (v,))
    # exactly the one literal '?' remains, inside quotes
    masked = mask_strings(stmt)
    assert "?" not in masked


def test_rowcount_update_delete_and_zero_rows(spark, tmp_path):
    """rowcount reads affected_rows for UPDATE/DELETE and reports a
    legitimate 0 as 0 (not -1 'unknown')."""
    cat = Catalog(spark, str(tmp_path / "w"))
    cat.create_table(
        "t", spark.createDataFrame([(1, "a"), (2, "b")], "id long, s string")
    )
    ep = SqlEndpoint(cat).start()
    try:
        conn = dbapi.connect(port=ep.port)
        cur = conn.cursor()
        cur.execute("UPDATE t SET s = 'x' WHERE id = 1")
        assert cur.rowcount == 1
        cur.execute("UPDATE t SET s = 'y' WHERE id = 999")
        assert cur.rowcount == 0
        cur.execute("DELETE FROM t WHERE id = 1")
        assert cur.rowcount == 1
        conn.close()
    finally:
        ep.stop()


def test_bind_ignores_placeholders_in_comments(endpoint):
    conn = dbapi.connect(port=endpoint.port)
    cur = conn.cursor()
    cur.execute("SELECT ? AS v -- trailing param?\n", (7,))
    assert cur.fetchone() == (7,)
    cur.execute("SELECT /* block? */ ? AS v", (8,))
    assert cur.fetchone() == (8,)
    conn.close()


def test_dsir_string_doc_ids(spark):
    """String/uuid document ids must not collapse into one NULL group
    (regression: _doc_tokens used to cast ids to bigint)."""
    from data_lakehouse_spark.operators import corpus as _corpus

    rows = [(f"doc-{i}", "alpha beta gamma " * 3, "s") for i in range(20)]
    docs = spark.createDataFrame(rows, "doc_id string, text string, src string")
    out = collect(_corpus.dsir_importance_sample(docs, docs.limit(5), 6, seed=0))
    assert len(out) == 6
    assert len({r["doc_id"] for r in out}) == 6
    assert all(r["doc_id"].startswith("doc-") for r in out)


def test_truncation_warns_by_default(endpoint):
    """Hitting the per-execute row cap must be LOUD: standard DBAPI
    consumers (pandas read_sql) never check the non-standard
    .truncated attribute, so the default is a TruncatedResultWarning,
    'error' raises, and 'ignore' restores the silent contract."""
    import warnings

    conn = dbapi.connect(port=endpoint.port)
    cur = conn.cursor()
    cur.max_rows = 1  # force the cap with a 2-row table
    with pytest.warns(dbapi.TruncatedResultWarning, match="truncated"):
        cur.execute("SELECT id FROM sales ORDER BY id")
    assert cur.truncated and cur.rowcount == 1

    # under the cap: no warning
    cur.max_rows = 100
    with warnings.catch_warnings():
        warnings.simplefilter("error")
        cur.execute("SELECT id FROM sales ORDER BY id")
    assert not cur.truncated and cur.rowcount == 2
    conn.close()

    econn = dbapi.connect(port=endpoint.port, on_truncate="error")
    ecur = econn.cursor()
    ecur.max_rows = 1
    with pytest.raises(dbapi.OperationalError, match="truncated"):
        ecur.execute("SELECT id FROM sales ORDER BY id")
    econn.close()

    iconn = dbapi.connect(port=endpoint.port, on_truncate="ignore")
    icur = iconn.cursor()
    icur.max_rows = 1
    with warnings.catch_warnings():
        warnings.simplefilter("error")
        icur.execute("SELECT id FROM sales ORDER BY id")
    assert icur.truncated
    iconn.close()

    with pytest.raises(dbapi.InterfaceError):
        dbapi.connect(port=endpoint.port, on_truncate="loud")



@pytest.mark.parametrize("code, body, stall", [
    (400, b'{"error": "no such table"}', False),  # -> ProgrammingError
    (503, b"upstream down", False),  # transport error -> OperationalError
    (503, b"upstream", True),  # body stalls past the client timeout
])
def test_error_response_is_closed_before_raising(monkeypatch, code, body, stall):
    """An HTTP error response owns its socket: the client closes it
    before raising. Reading a whole body closes it anyway; a body read
    that fails (here: the server stalls mid-body) used to leave it open
    for as long as the raised error, which chains the response, lived.
    Run under ``error::ResourceWarning``, so a socket dropped unclosed
    would also fail the test."""
    import gc
    import sys
    import threading
    import time
    import urllib.error
    import urllib.request
    import warnings
    from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

    class Failing(BaseHTTPRequestHandler):
        def log_message(self, *args):
            pass

        def do_POST(self):
            self.rfile.read(int(self.headers["Content-Length"]))
            self.send_response(code)
            self.send_header("Content-Length", str(len(body) + 100 * stall))
            self.end_headers()
            self.wfile.write(body)
            if stall:
                self.wfile.flush()
                time.sleep(2)

    seen = []
    urlopen = urllib.request.urlopen

    def recording_urlopen(*args, **kwargs):
        try:
            return urlopen(*args, **kwargs)
        except urllib.error.HTTPError as e:
            seen.append(e)  # keeps the error, and its socket, alive
            raise

    monkeypatch.setattr(urllib.request, "urlopen", recording_urlopen)
    srv = ThreadingHTTPServer(("127.0.0.1", 0), Failing)
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    unraisable = []
    old_hook = sys.unraisablehook
    sys.unraisablehook = unraisable.append
    try:
        with warnings.catch_warnings():
            warnings.simplefilter("error", ResourceWarning)
            conn = dbapi.connect(port=srv.server_address[1], timeout=0.5)
            with pytest.raises(dbapi.DatabaseError):
                conn.cursor().execute("SELECT 1")
            assert len(seen) == 1
            assert seen[0].fp.isclosed()
            seen.clear()
            gc.collect()
    finally:
        sys.unraisablehook = old_hook
        srv.shutdown()
        srv.server_close()
    assert [u for u in unraisable if isinstance(u.exc_value, ResourceWarning)] == []
