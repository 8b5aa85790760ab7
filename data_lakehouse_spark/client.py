"""PEP 249 (DBAPI 2.0) client for the SQL endpoint — the programmatic
connector a migrating user plugs where the reference wires dbt/BI over
Thrift (``dbt/profiles.yml:5-9``).

This environment ships no gRPC/Thrift stack (documented in
``server.py``), so the wire is the endpoint's HTTP/JSON — but the
CLIENT surface is the standard one: ``connect()`` → ``Connection``
(``cursor``/``commit``/``rollback``/``close``, context manager) →
``Cursor`` (``execute``/``executemany``/``fetchone``/``fetchmany``/
``fetchall``/``description``/``rowcount``, iteration). Anything built
on DBAPI — a dbt adapter's connection manager, SQLAlchemy's most basic
dialect needs, a pandas ``read_sql`` loop — programs against this
without knowing the transport.

Transactions map to the endpoint's named-session contract: each
Connection owns one server session (uuid). ``autocommit=True``
(default) sends bare statements; with ``autocommit=False`` the
connection lazily opens ``BEGIN`` before the first statement of each
transaction, and ``commit()``/``rollback()`` resolve it — exactly
DBAPI's implicit-transaction semantics, carried by the server's WAP
staging (read-your-own-writes on this session; other clients see
published snapshots until commit).

Parameters use ``qmark`` style (``?``) bound CLIENT-side into SQL
literals — the wire has no parameter protocol. Binding is strict:
only None/bool/int/float/str/bytes/date/datetime/Decimal bind, strings
escape embedded quotes, and ``?`` inside string literals in the SQL
text is left untouched (masked scan).
"""

from __future__ import annotations

import datetime as _dt
import decimal as _decimal
import json
import urllib.error
import urllib.request
import uuid as _uuid

__all__ = [
    "connect",
    "Connection",
    "Cursor",
    "Error",
    "InterfaceError",
    "DatabaseError",
    "ProgrammingError",
    "OperationalError",
    "TruncatedResultWarning",
    "apilevel",
    "threadsafety",
    "paramstyle",
]

apilevel = "2.0"
#: 1 = threads may share the module, not connections
threadsafety = 1
paramstyle = "qmark"


class Error(Exception):
    """DBAPI base error."""


class InterfaceError(Error):
    """Client-side misuse (closed cursor, bad bind value)."""


class DatabaseError(Error):
    """Server-reported failure."""


class ProgrammingError(DatabaseError):
    """SQL analysis / binding errors."""


class OperationalError(DatabaseError):
    """Transport failures (endpoint unreachable, HTTP-level)."""


class TruncatedResultWarning(UserWarning):
    """A result set hit the per-execute row cap (``Cursor.max_rows``)
    and was truncated server-side. Standard DBAPI consumers (pandas
    ``read_sql``, plain fetchall loops) never check the non-standard
    ``Cursor.truncated`` attribute, so silence here would hand them an
    incomplete result with no signal."""


def connect(
    host: str = "127.0.0.1",
    port: int = 8080,
    *,
    autocommit: bool = True,
    timeout: float = 120.0,
    session: str | None = None,
    on_truncate: str = "warn",
) -> "Connection":
    """Open a connection to a running ``SqlEndpoint``.

    ``on_truncate`` controls what happens when a result set hits the
    per-execute row cap (``Cursor.max_rows``): ``"warn"`` (default)
    emits :class:`TruncatedResultWarning`, ``"error"`` raises
    :class:`OperationalError`, ``"ignore"`` only sets the
    non-standard ``Cursor.truncated`` attribute."""
    return Connection(
        host,
        port,
        autocommit=autocommit,
        timeout=timeout,
        session=session,
        on_truncate=on_truncate,
    )


class Connection:
    def __init__(
        self,
        host: str,
        port: int,
        *,
        autocommit: bool = True,
        timeout: float = 120.0,
        session: str | None = None,
        on_truncate: str = "warn",
    ) -> None:
        if on_truncate not in ("warn", "error", "ignore"):
            raise InterfaceError(
                f"on_truncate must be 'warn', 'error' or 'ignore', "
                f"got {on_truncate!r}"
            )
        self._url = f"http://{host}:{port}/sql"
        self._timeout = timeout
        self.on_truncate = on_truncate
        #: one server session per connection — the transaction carrier
        self._session = session or f"dbapi-{_uuid.uuid4().hex[:12]}"
        self.autocommit = autocommit
        self._in_txn = False
        self._closed = False

    # -- wire ----------------------------------------------------------------
    def _post(self, sql: str, limit: int) -> dict:
        if self._closed:
            raise InterfaceError("connection is closed")
        body = json.dumps(
            {"sql": sql, "limit": limit, "session": self._session}
        ).encode()
        req = urllib.request.Request(
            self._url,
            data=body,
            headers={"Content-Type": "application/json"},
            method="POST",
        )
        try:
            with urllib.request.urlopen(req, timeout=self._timeout) as r:
                out = json.loads(r.read())
        except urllib.error.HTTPError as e:
            # 4xx with an "error" body is the endpoint's SQL-analysis
            # contract (ProgrammingError below); anything else — 5xx
            # from a proxy, or an error body in an unexpected shape —
            # is transport-level, never a silent empty result set.
            # The error response owns the socket: close it here even
            # when reading the body fails, not whenever the raised
            # error (which chains it) is collected
            with e:
                try:
                    out = json.loads(e.read())
                except Exception:
                    out = None
            if (
                e.code >= 500
                or not isinstance(out, dict)
                or "error" not in out
            ):
                raise OperationalError(f"HTTP {e.code}") from e
        except urllib.error.URLError as e:
            raise OperationalError(str(e)) from e
        if "error" in out:
            raise ProgrammingError(out["error"])
        return out

    def _execute(self, sql: str, limit: int) -> dict:
        if not self.autocommit and not self._in_txn:
            self._post("BEGIN", 1)
            self._in_txn = True
        return self._post(sql, limit)

    # -- DBAPI surface ---------------------------------------------------------
    def cursor(self) -> "Cursor":
        if self._closed:
            raise InterfaceError("connection is closed")
        return Cursor(self)

    def commit(self) -> None:
        if self._in_txn:
            self._post("COMMIT", 1)
            self._in_txn = False

    def rollback(self) -> None:
        if self._in_txn:
            self._post("ROLLBACK", 1)
            self._in_txn = False

    def close(self) -> None:
        """DBAPI: an open transaction is rolled back on close."""
        if self._closed:
            return
        try:
            self.rollback()
        finally:
            self._closed = True

    def __enter__(self) -> "Connection":
        return self

    def __exit__(self, exc_type, exc, tb) -> bool:
        # DBAPI convention (and what users expect from `with`): commit
        # on clean exit, roll back on exception, then close
        try:
            if exc_type is None:
                self.commit()
            else:
                self.rollback()
        finally:
            self.close()
        return False


class Cursor:
    #: default fetchmany size (DBAPI: arraysize)
    arraysize = 1000
    #: server-side row cap per execute (the endpoint's serving contract)
    max_rows = 100_000

    def __init__(self, conn: Connection) -> None:
        self._conn = conn
        self._rows: list[tuple] | None = None
        self._pos = 0
        self.description: list[tuple] | None = None
        self.rowcount = -1
        self.truncated = False
        self._closed = False

    # -- execution ---------------------------------------------------------
    def execute(self, sql: str, parameters=None) -> "Cursor":
        if self._closed:
            raise InterfaceError("cursor is closed")
        stmt = _bind(sql, parameters) if parameters is not None else sql
        out = self._conn._execute(stmt, self.max_rows)
        cols = out.get("columns") or []
        types = out.get("types") or [None] * len(cols)
        self.description = [
            (name, typ, None, None, None, None, None)
            for name, typ in zip(cols, types)
        ]
        self._rows = [tuple(r) for r in out.get("rows") or []]
        self._pos = 0
        stats = out.get("stats")
        if stats is not None:  # DML/DDL: rowcount from commit stats
            n = None
            for k in ("rows_inserted", "affected_rows", "rows"):
                if stats.get(k) is not None:
                    n = stats[k]
                    break
            # 0 is a legitimate count (e.g. UPDATE matching nothing);
            # only a missing stat means "unknown" (-1 per DBAPI)
            self.rowcount = int(n) if n is not None else -1
        else:
            self.rowcount = len(self._rows)
        self.truncated = bool(out.get("truncated"))
        if self.truncated:
            mode = getattr(self._conn, "on_truncate", "warn")
            msg = (
                f"result set truncated to max_rows={self.max_rows}; "
                "raise Cursor.max_rows, add LIMIT/pagination, or "
                "connect(on_truncate='ignore') to silence"
            )
            if mode == "error":
                raise OperationalError(msg)
            if mode == "warn":
                import warnings

                warnings.warn(msg, TruncatedResultWarning, stacklevel=2)
        return self

    def executemany(self, sql: str, seq_of_parameters) -> "Cursor":
        """Each parameter set executes once; rowcount accumulates
        inserted counts (DBAPI leaves the aggregate loose; summing is
        the useful contract for INSERT loops)."""
        total = 0
        for p in seq_of_parameters:
            self.execute(sql, p)
            if self.rowcount > 0:
                total += self.rowcount
        self.rowcount = total
        self._rows = []
        self._pos = 0
        return self

    # -- fetch -------------------------------------------------------------
    def _require_rows(self) -> list[tuple]:
        if self._rows is None:
            raise InterfaceError("no execute() has produced a result set")
        return self._rows

    def fetchone(self):
        rows = self._require_rows()
        if self._pos >= len(rows):
            return None
        row = rows[self._pos]
        self._pos += 1
        return row

    def fetchmany(self, size: int | None = None) -> list[tuple]:
        rows = self._require_rows()
        n = size or self.arraysize
        out = rows[self._pos : self._pos + n]
        self._pos += len(out)
        return out

    def fetchall(self) -> list[tuple]:
        rows = self._require_rows()
        out = rows[self._pos :]
        self._pos = len(rows)
        return out

    def __iter__(self):
        while True:
            row = self.fetchone()
            if row is None:
                return
            yield row

    # -- lifecycle -----------------------------------------------------------
    def close(self) -> None:
        self._closed = True
        self._rows = None

    def setinputsizes(self, sizes) -> None:  # DBAPI no-op
        pass

    def setoutputsize(self, size, column=None) -> None:  # DBAPI no-op
        pass

    def __enter__(self) -> "Cursor":
        return self

    def __exit__(self, exc_type, exc, tb) -> bool:
        self.close()
        return False


# ---------------------------------------------------------------------------
# qmark binding (client-side literals; the wire has no parameter frames)
# ---------------------------------------------------------------------------

def _literal(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, bool):  # before int: bool is an int subclass
        return "TRUE" if v else "FALSE"
    if isinstance(v, int):
        return str(v)
    if isinstance(v, float):
        if v != v or v in (float("inf"), float("-inf")):
            raise InterfaceError(f"cannot bind non-finite float {v!r}")
        return repr(v)
    if isinstance(v, _decimal.Decimal):
        return f"CAST('{v}' AS DECIMAL(38, 18))"
    if isinstance(v, _dt.datetime):
        return f"TIMESTAMP '{v.isoformat(sep=' ')}'"
    if isinstance(v, _dt.date):
        return f"DATE '{v.isoformat()}'"
    if isinstance(v, bytes):
        return f"X'{v.hex()}'"
    if isinstance(v, str):
        # '' doubling for quotes (what the router's lexer understands;
        # Spark accepts it too); backslashes double because Spark's
        # default parser treats them as escapes inside string literals
        return "'" + v.replace("\\", "\\\\").replace("'", "''") + "'"
    raise InterfaceError(f"cannot bind parameter of type {type(v).__name__}")


def _bind(sql: str, parameters) -> str:
    """Substitute ``?`` placeholders OUTSIDE string literals with
    safely-rendered SQL literals."""
    if not isinstance(parameters, (list, tuple)):
        parameters = (parameters,)
    out: list[str] = []
    it = iter(parameters)
    used = 0
    in_str: str | None = None  # the open quote char, if any
    i = 0
    while i < len(sql):
        ch = sql[i]
        if in_str is not None:
            out.append(ch)
            if ch == in_str:
                # '' doubling escapes a quote (matches the endpoint's
                # lexer, sql.py mask_strings)
                if i + 1 < len(sql) and sql[i + 1] == in_str:
                    out.append(sql[i + 1])
                    i += 2
                    continue
                in_str = None
            i += 1
            continue
        if ch == "-" and sql.startswith("--", i):
            # line comment: copy verbatim, no placeholder scanning
            j = sql.find("\n", i)
            j = len(sql) if j < 0 else j
            out.append(sql[i:j])
            i = j
            continue
        if ch == "/" and sql.startswith("/*", i):
            j = sql.find("*/", i + 2)
            j = len(sql) if j < 0 else j + 2
            out.append(sql[i:j])
            i = j
            continue
        if ch in ("'", '"'):
            in_str = ch
            out.append(ch)
        elif ch == "?":
            try:
                out.append(_literal(next(it)))
            except StopIteration:
                raise ProgrammingError(
                    "not enough parameters for placeholders"
                ) from None
            used += 1
        else:
            out.append(ch)
        i += 1
    remaining = sum(1 for _ in it)
    if remaining:
        raise ProgrammingError(
            f"{remaining} unused parameter(s): SQL has {used} placeholder(s)"
        )
    return "".join(out)
