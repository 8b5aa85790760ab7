"""Long-lived multi-client SQL endpoint — the engine's analog of the
reference's Spark Thrift Server serving dbt and BI clients
(``dbt/profiles.yml:5-9`` connects dbt to a thrift endpoint that
``spark/entrypoint.sh:30-55`` keeps running).

Architecture parity, protocol pragmatism: ONE long-lived driver
process owns the SparkSession and the registered catalog views; N
concurrent clients submit SQL and get result sets back. The idiomatic
Spark 4 transport would be Spark Connect (gRPC) — this environment
ships no gRPC/protobuf Python stack, so the endpoint speaks minimal
HTTP/JSON over the standard library instead. Client concurrency is
real: ``ThreadingHTTPServer`` hands each request its own thread and
``spark.sql`` is thread-safe on a shared session (each query gets its
own Spark job; the scheduler interleaves them — set
``spark.scheduler.mode=FAIR`` for latency fairness on a busy
endpoint).

API
---
- ``POST /sql`` body ``{"sql": "...", "limit": 1000,
  "session": "optional-name"}`` → ``{"columns": [...],
  "rows": [[...], ...], "n": int, "truncated": bool}``. Naming a
  ``session`` keeps a stateful router across requests — that is what
  carries ``BEGIN … COMMIT/ROLLBACK`` over the wire (the Thrift
  session analog): the transaction and its read-your-own-writes live
  on the named session, other clients read published snapshots until
  COMMIT. While any transaction is open, newly submitted statements
  serialize on the endpoint (RYOW temp views are global on the shared
  SparkSession); with none open, statements run fully parallel.
- ``GET /tables`` → ``{"tables": [...], "views": [...]}``
- ``GET /health`` → ``{"ok": true, ...}``
- ``GET /metrics`` → ``{"result_cache": {"hits", "misses",
  "uncacheable": {reason: n}, "entries", "bytes", "budget_bytes"}}``
- ``GET /dashboard`` → the declarative BI bundle (serving.py): title,
  slug, layout, chart slugs
- ``GET /chart/<slug>`` → compile that chart spec to its SQL and run it
  against the LATEST marts — the live twin of the reference's Superset
  chart "warmup" (dags/06_superset_dashboard.py:514-531), except the
  tile's exact query is served, not a cache poke

Every statement sees the LATEST published snapshots: the SQL router
registers each statement's identifier closure at execution (scoped —
never O(catalog) work per request), and a resolving transaction
triggers one catalog-wide refresh so its read-your-own-writes views
stop shadowing.

Result cache: a query outside a transaction whose result depends only
on catalog snapshots is answered again from a copy of its stored
result, without registering views, planning or running a Spark job,
until a commit, tag change or view change touches a table it reads
(:class:`_ResultCache`, keyed by :meth:`SqlEndpoint._result_key`).

Scale note: result sets are driver-materialized (``limit`` caps them,
default 1000, hard server cap) — this is a SERVING endpoint for
dashboards/dbt-style queries over marts, not a bulk-extract path; bulk
egress belongs in a sink (``sources/writers.py``).
"""

from __future__ import annotations

import collections
import json
import os
import pickle
import re as _re
import threading
import time
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

from data_lakehouse_spark.session import collect

__all__ = ["SqlEndpoint"]

#: hard ceiling on rows returned per request, whatever the client asks
MAX_ROWS = 100_000

#: statements that open/resolve a wire transaction (need a named
#: session). Matched against COMMENT-STRIPPED text and aligned with the
#: router's own verb grammar (sql.py:284 accepts bare START) — a
#: comment-prefixed BEGIN must not slip past the guard.
_TXN_VERB = _re.compile(
    r"^\s*(BEGIN|START(\s+TRANSACTION)?|COMMIT|ROLLBACK)\b", _re.I
)

#: byte budget of the endpoint's result cache: the pickled result sets
#: plus their statement texts. Least-recently-used entries are evicted
#: past it; a result larger than the whole budget is not stored.
RESULT_CACHE_BYTES = 64 * 1024 * 1024

#: functions whose value changes between runs of an unchanged plan but
#: which Catalyst reports as deterministic (their pretty names as the
#: analyzed plan renders them)
_TIME_OR_USER = _re.compile(
    r"\b(current_timestamp|current_date|current_time|curdate|now|"
    r"localtimestamp|current_user|user|session_user|current_database|"
    r"current_schema|current_catalog)\("
)

#: a relation read straight from a path (``parquet.`/dir```, any
#: ``<format>.`...``` or a bare ``parquet.dir``): the files it reads
#: are not a catalog snapshot, so no stamp covers them
_PATH_READ = _re.compile(
    r"\b\w+\s*\.\s*`|\b(parquet|orc|json|csv|text|avro|binaryfile|xml|delta)"
    r"\s*\.\s*\w",
    _re.I,
)


class _RwLock:
    """Reader–writer lock: shared statements (no transaction in play)
    run concurrently; a transaction's statements take exclusive access
    so its read-your-own-writes temp-view registration on the shared
    SparkSession can never interleave with another client's read.
    Writer-preference: once a writer waits, new readers queue behind it
    (a long dashboard scan can't starve COMMIT)."""

    def __init__(self) -> None:
        self._cond = threading.Condition()
        self._readers = 0
        self._writer = False
        self._writers_waiting = 0

    def acquire_read(self) -> None:
        with self._cond:
            while self._writer or self._writers_waiting:
                self._cond.wait()
            self._readers += 1

    def release_read(self) -> None:
        with self._cond:
            self._readers -= 1
            if self._readers == 0:
                self._cond.notify_all()

    def acquire_write(self) -> None:
        with self._cond:
            self._writers_waiting += 1
            try:
                while self._writer or self._readers:
                    self._cond.wait()
            finally:
                self._writers_waiting -= 1
            self._writer = True

    def release_write(self) -> None:
        with self._cond:
            self._writer = False
            self._cond.notify_all()


class _Session:
    """One named wire session: its stateful SQL router plus the
    bookkeeping expiry needs. ``pinned`` counts in-flight requests —
    a pinned session is never evicted or reaped (an eviction racing an
    in-flight BEGIN would orphan a transaction no reaper can see)."""

    __slots__ = ("router", "last_used", "txn_opened_at", "pinned", "aborted")

    def __init__(self, router) -> None:
        self.router = router
        self.last_used = time.monotonic()
        self.txn_opened_at: float | None = None
        self.pinned = 0
        #: set by the reaper when it auto-rolls-back this session's
        #: timed-out transaction; while set, every statement except
        #: ROLLBACK / BEGIN fails with this message (idle-in-transaction
        #: semantics) — otherwise the client's next statements would
        #: silently run in autocommit and publish non-atomically
        self.aborted: str | None = None


class _ResultCache:
    """Result sets of queries keyed by everything they depend on (see
    :meth:`SqlEndpoint._result_key`), least-recently-used first out
    under :data:`RESULT_CACHE_BYTES`. Results are stored pickled, so
    every hit returns a fresh copy a caller may change. Counts hits,
    misses and, by reason, the queries whose result was not stored."""

    def __init__(self) -> None:
        self._lock = threading.Lock()
        self._entries: collections.OrderedDict[tuple, tuple[bytes, int]] = (
            collections.OrderedDict()
        )
        self._bytes = 0
        self._hits = self._misses = 0
        self._uncacheable: collections.Counter[str] = collections.Counter()

    def get(self, key: tuple) -> dict | None:
        with self._lock:
            entry = self._entries.get(key)
            if entry is None:
                self._misses += 1
                return None
            self._entries.move_to_end(key)
            self._hits += 1
        return pickle.loads(entry[0])

    def put(self, key: tuple, result: dict) -> None:
        blob = pickle.dumps(result, protocol=pickle.HIGHEST_PROTOCOL)
        size = len(blob) + len(key[0])
        if size > RESULT_CACHE_BYTES:
            self.skip("too_large")
            return
        with self._lock:
            old = self._entries.pop(key, None)
            if old is not None:
                self._bytes -= old[1]
            self._entries[key] = (blob, size)
            self._bytes += size
            while self._bytes > RESULT_CACHE_BYTES:
                self._bytes -= self._entries.popitem(last=False)[1][1]

    def skip(self, reason: str) -> None:
        with self._lock:
            self._uncacheable[reason] += 1

    def metrics(self) -> dict:
        with self._lock:
            return {
                "hits": self._hits,
                "misses": self._misses,
                "uncacheable": dict(self._uncacheable),
                "entries": len(self._entries),
                "bytes": self._bytes,
                "budget_bytes": RESULT_CACHE_BYTES,
            }


class SqlEndpoint:
    """Serve ``catalog`` over HTTP/JSON on ``host:port`` (port 0 picks
    a free port — read it back from ``.port`` after ``start()``)."""

    def __init__(
        self,
        catalog,
        host: str = "127.0.0.1",
        port: int = 0,
        *,
        read_only: bool = False,
        assets=None,
    ):
        self.catalog = catalog
        #: declarative BI bundle served at /dashboard and /chart/<slug>
        #: (defaults to the reference-parity assets)
        if assets is None:
            from data_lakehouse_spark import serving as _serving

            assets = _serving.reference_assets()
        self.assets = assets
        #: True → reject DML/DDL/maintenance before execution (a
        #: dashboard-facing endpoint); default read-write, because the
        #: reference's Thrift endpoint is what dbt MATERIALIZES through
        #: (dbt/profiles.yml:5-9) — writes are the point.
        self.read_only = read_only
        self._lock = threading.Lock()  # session table + view registration
        #: named stateful SQL sessions (BEGIN…COMMIT over the wire —
        #: the Thrift-session analog). Keyed by the client-chosen
        #: ``"session"`` field of POST /sql. Guarded by ``_lock``.
        self._sessions: dict[str, _Session] = {}
        #: statement gate: statements with no transaction in play take
        #: shared (reader) access and run fully parallel; BEGIN and every
        #: statement of a session with an open transaction take
        #: exclusive (writer) access — a transaction's read-your-own-
        #: writes temp views are session-global on the shared
        #: SparkSession, so exclusivity is what keeps other clients'
        #: reads on published snapshots. The decision is made and the
        #: open-transaction bookkeeping updated while HOLDING the chosen
        #: side, so no statement can slip past a stale check.
        self._gate = _RwLock()
        #: seconds a named session may sit idle before eviction (an
        #: evicted session's open transaction is rolled back)
        self.session_timeout = 900.0
        #: seconds a transaction may stay open before auto-rollback
        self.txn_timeout = 300.0
        self.max_sessions = 128
        #: snapshot-exact result sets of repeated queries (see
        #: _result_key); read and filled under the gate's read side
        self._results = _ResultCache()
        endpoint = self

        class Handler(BaseHTTPRequestHandler):
            def log_message(self, fmt, *args):  # quiet: no stderr spam
                pass

            def _json(self, code: int, payload: dict) -> None:
                body = json.dumps(payload).encode("utf-8")
                self.send_response(code)
                self.send_header("Content-Type", "application/json")
                self.send_header("Content-Length", str(len(body)))
                self.end_headers()
                self.wfile.write(body)

            def do_GET(self):
                if self.path == "/health":
                    self._json(200, {"ok": True})
                elif self.path == "/metrics":
                    self._json(
                        200, {"result_cache": endpoint._results.metrics()}
                    )
                elif self.path == "/tables":
                    self._json(
                        200,
                        {
                            "tables": endpoint.catalog.tables(),
                            "views": sorted(endpoint.catalog.views()),
                        },
                    )
                elif self.path == "/sessions":
                    # ops introspection (the Thrift server's session UI
                    # analog): who's connected, idle for how long,
                    # which sessions hold open transactions
                    now = time.monotonic()
                    with endpoint._lock:
                        sessions = {
                            name: {
                                "idle_sec": round(now - s.last_used, 1),
                                "txn_open": s.txn_opened_at is not None,
                                "txn_age_sec": (
                                    round(now - s.txn_opened_at, 1)
                                    if s.txn_opened_at is not None
                                    else None
                                ),
                            }
                            for name, s in endpoint._sessions.items()
                        }
                    self._json(
                        200,
                        {
                            "sessions": sessions,
                            "n": len(sessions),
                            "max_sessions": endpoint.max_sessions,
                            "session_timeout": endpoint.session_timeout,
                            "txn_timeout": endpoint.txn_timeout,
                        },
                    )
                elif self.path == "/dashboard":
                    dash = endpoint.assets.dashboard
                    self._json(
                        200,
                        {
                            "title": dash.title,
                            "slug": dash.slug,
                            "charts": {
                                _chart_slug(c.name): {
                                    "name": c.name,
                                    "viz_type": c.viz_type,
                                    "dataset": c.dataset_key,
                                    "position": dash.layout.get(c.name),
                                }
                                for c in endpoint.assets.charts
                            },
                        },
                    )
                elif self.path.startswith("/chart/"):
                    slug = self.path[len("/chart/"):]
                    try:
                        self._json(200, endpoint.run_chart(slug))
                    except KeyError:
                        self._json(404, {"error": f"no chart {slug!r}"})
                    except Exception as e:
                        self._json(400, {"error": str(e).split("\n")[0]})
                else:
                    self._json(404, {"error": f"no route {self.path}"})

            def do_POST(self):
                if self.path != "/sql":
                    self._json(404, {"error": f"no route {self.path}"})
                    return
                try:
                    n = int(self.headers.get("Content-Length", 0))
                    req = json.loads(self.rfile.read(n) or b"{}")
                    if not isinstance(req, dict):
                        raise TypeError("body must be a JSON object")
                    sql = req["sql"]
                    if not isinstance(sql, str):
                        raise TypeError("'sql' must be a string")
                    # clamp BOTH ends: negative limits would reach
                    # df.limit() as a Spark analysis error (or silently
                    # empty results at -1)
                    limit = min(max(int(req.get("limit", 1000)), 0), MAX_ROWS)
                    session = req.get("session")
                    if session is not None and not isinstance(session, str):
                        raise TypeError("'session' must be a string")
                except (KeyError, TypeError, ValueError) as e:
                    self._json(400, {"error": f"bad request: {e}"})
                    return
                try:
                    self._json(
                        200, endpoint.execute(sql, limit, session=session)
                    )
                except Exception as e:  # surface analysis errors to client
                    self._json(400, {"error": str(e).split("\n")[0]})

        self._server = ThreadingHTTPServer((host, port), Handler)
        self._thread: threading.Thread | None = None

    @property
    def port(self) -> int:
        return self._server.server_address[1]

    def execute(
        self, sql: str, limit: int = 1000, *, session: str | None = None
    ) -> dict:
        """Route one SQL statement through the dialect router
        (:mod:`data_lakehouse_spark.sql`): queries return a JSON-able
        result set; DML/DDL/maintenance dispatch to the catalog's
        transactional verbs and return their commit stats — the full
        dbt-over-Thrift statement surface, not just SELECT.

        ``session`` names a stateful router kept across requests, which
        is what makes ``BEGIN … COMMIT/ROLLBACK`` work over the wire:
        the transaction (and its read-your-own-writes) lives on the
        named session; other sessions keep reading published snapshots
        until COMMIT. Transaction verbs REQUIRE a named session — an
        anonymous router is discarded when the request ends, so a
        sessionless BEGIN would "succeed" while every later statement
        auto-commits (silent loss of transactional semantics)."""
        from data_lakehouse_spark.sql import (
            LakehouseSql,
            SqlError,
            is_query,
            strip_comments,
        )

        query = is_query(sql)
        if self.read_only and not query:
            raise SqlError("endpoint is read-only: only queries accepted")
        is_txn_verb = bool(_TXN_VERB.match(strip_comments(sql)))
        if is_txn_verb and session is None:
            raise SqlError(
                "transactions require a named session: pass "
                '"session" in the request body so BEGIN/COMMIT/'
                "ROLLBACK share one router across requests"
            )
        self._reap()
        with self._lock:
            sess: _Session | None = None
            if session is not None:
                sess = self._sessions.get(session)
                if sess is None:
                    if len(self._sessions) >= self.max_sessions:
                        self._evict_lru_locked()
                    sess = _Session(LakehouseSql(self.catalog))
                    self._sessions[session] = sess
                sess.last_used = time.monotonic()
                if sess.aborted is not None:
                    # the reaper rolled this session's transaction
                    # back; the client may still believe it is inside
                    # BEGIN, so letting statements through would run
                    # them in autocommit (non-atomic publishes). Fail
                    # everything until an explicit ROLLBACK/BEGIN.
                    verb = _TXN_VERB.match(strip_comments(sql))
                    v = verb.group(1).upper() if verb else ""
                    if v == "ROLLBACK":
                        # transaction is already gone — acknowledge
                        # and clear the aborted state without routing
                        # (the router would raise "ROLLBACK without
                        # an open transaction")
                        sess.aborted = None
                        return _rollback_ack_response()
                    if v.startswith(("BEGIN", "START")):
                        sess.aborted = None
                    else:
                        raise SqlError(sess.aborted)
                # pin against eviction/reaping while this request is in
                # flight (an evicted session whose BEGIN is still
                # waiting for the gate would orphan its transaction)
                sess.pinned += 1
            router = sess.router if sess else LakehouseSql(self.catalog)
            # exclusive iff a transaction is (or may be, for BEGIN) in
            # play on this statement's session; decided here, enforced
            # by holding the chosen gate side through execution
            exclusive = is_txn_verb or (
                sess is not None and sess.txn_opened_at is not None
            )
        while True:
            if exclusive:
                self._gate.acquire_write()
            else:
                self._gate.acquire_read()
            # revalidate under the gate: a concurrent request on the
            # SAME session (pipelined client / shared session name) may
            # have opened a transaction between the decision and the
            # acquire — running its statement under shared access would
            # let other readers see its staged views. Upgrade by
            # release-and-retry (never in-place: lock-order safe).
            with self._lock:
                need_exclusive = is_txn_verb or (
                    sess is not None and sess.txn_opened_at is not None
                )
                # INVARIANT (pin-before-gate): this statement pinned
                # its session under _lock BEFORE waiting on the gate,
                # and the reaper skips pinned sessions at BOTH its
                # snapshot and its under-lock re-check — so
                # sess.aborted cannot flip while we were blocked here,
                # and this branch is unreachable today
                # (tests/test_sql_endpoint.py pins the reaper side).
                # It is kept as a defensive backstop: if a future
                # reaper edit drops the pinned skip, failing the
                # statement here (instead of silently running it in
                # autocommit on a rolled-back session) is the correct
                # degradation.
                aborted_now = sess.aborted if sess is not None else None
            if aborted_now is not None:
                verb = _TXN_VERB.match(strip_comments(sql))
                v = verb.group(1).upper() if verb else ""
                if v.startswith(("BEGIN", "START")):
                    # a blocked BEGIN starts a FRESH transaction: the
                    # reaped one is resolved, so clear and proceed
                    with self._lock:
                        sess.aborted = None
                elif v == "ROLLBACK":
                    # transaction already rolled back by the reaper:
                    # acknowledge synthetically (the router would raise
                    # "ROLLBACK without an open transaction")
                    with self._lock:
                        sess.aborted = None
                        sess.pinned -= 1
                    if exclusive:
                        self._gate.release_write()
                    else:
                        self._gate.release_read()
                    return _rollback_ack_response()
                else:
                    if exclusive:
                        self._gate.release_write()
                    else:
                        self._gate.release_read()
                    with self._lock:
                        sess.pinned -= 1
                    raise SqlError(aborted_now)
            if need_exclusive and not exclusive:
                self._gate.release_read()
                exclusive = True
                continue
            break
        key = None
        try:
            if query and exclusive:
                # a transaction's reads see its staged rows
                self._results.skip("transaction")
            elif query:
                key, tables = self._result_key(sql, limit)
                hit = self._results.get(key)
                if hit is not None:
                    return hit
            # NOTE: no unscoped register_views here — the router
            # registers each statement's identifier closure itself
            # (sql.py _query/_create/_merge), so a per-statement
            # catalog-wide re-registration was O(catalog) redundant
            # work serialized on the lock; the one place a catalog-wide
            # refresh is still needed is after a transaction resolves
            # (below), where its RYOW views must stop shadowing
            try:
                result = router.execute(sql)
            finally:
                # bookkeeping runs even when the statement raises: a
                # FAILED commit has already cleared router._txn, and
                # leaving txn_opened_at set would serialize the
                # endpoint on a phantom transaction until the reaper
                if sess is not None:
                    with self._lock:
                        if router._txn is not None:
                            if sess.txn_opened_at is None:
                                sess.txn_opened_at = time.monotonic()
                        elif sess.txn_opened_at is not None:
                            # transaction just resolved: re-register
                            # published snapshots so its RYOW temp
                            # views stop shadowing — still under
                            # exclusive access, so no reader can
                            # observe the in-between state
                            sess.txn_opened_at = None
                            self.catalog.register_views()
        finally:
            if exclusive:
                self._gate.release_write()
            else:
                self._gate.release_read()
            if sess is not None:
                with self._lock:
                    sess.pinned -= 1
        if isinstance(result, dict):  # DML/DDL commit stats
            return {
                "columns": ["key", "value"],
                "rows": [
                    [k, _plain(v)] for k, v in result.items()
                ],
                "n": len(result),
                "truncated": False,
                "stats": {k: _plain(v) for k, v in result.items()},
            }
        df = result
        rows = collect(df.limit(limit + 1))
        truncated = len(rows) > limit
        rows = rows[:limit]
        out = {
            "columns": df.columns,
            "types": [f.dataType.simpleString() for f in df.schema.fields],
            "rows": [[_plain(v) for v in r] for r in rows],
            "n": len(rows),
            "truncated": truncated,
        }
        if key is not None:
            self._store(key, tables, df, out)
        return out

    def _result_key(self, sql: str, limit: int) -> tuple[tuple, frozenset]:
        """(cache key, catalog tables) of query ``sql``: the statement
        text, the row limit, the session time zone and ANSI flag (they
        change results of the same plan), and the stamp of every
        catalog table and view the router would register for it
        (:meth:`~.catalog.Catalog.read_stamp`). No manifest is parsed
        and no view registered."""
        from data_lakehouse_spark.sql import LakehouseSql

        conf = self.catalog.spark.conf
        stamp, tables = self.catalog.read_stamp(LakehouseSql._idents(sql))
        key = (
            sql,
            limit,
            conf.get("spark.sql.session.timeZone"),
            conf.get("spark.sql.ansi.enabled"),
            stamp,
        )
        return key, tables

    def _store(self, key: tuple, tables: frozenset, df, out: dict) -> None:
        """Store ``out``, the result of ``df`` under ``key``, when it
        is the same for every run under that key: the plan is
        deterministic, calls no current-time or current-user function,
        and reads only catalog table dirs of the stamped ``tables``
        (no path read, foreign temp view or in-memory relation).

        The plan read the snapshots the key names: the key was taken
        before the router resolved and registered this statement's
        views, and the router analyzed the statement under the same
        :data:`~.catalog.TEMP_VIEW_LOCK` as that registration, so the
        plan is bound to snapshots no older than the key's. The key is
        taken again here, under the gate's read side; if a commit,
        tag or view change came in between, it differs and nothing is
        stored."""
        reason = self._uncacheable(key[0], tables, df)
        if reason is None:
            self._gate.acquire_read()
            try:
                if self._result_key(key[0], key[1])[0] == key:
                    self._results.put(key, out)
                else:
                    reason = "snapshot_moved"
            finally:
                self._gate.release_read()
        if reason is not None:
            self._results.skip(reason)

    def _uncacheable(self, sql: str, tables: frozenset, df) -> str | None:
        """Why the result of query ``sql`` (planned as ``df``) may differ
        between two runs over the same snapshots of catalog ``tables``,
        or ``None``. Checked on the statement and the catalog views it
        pulls in, then on the analyzed plan and every subquery plan in
        it."""
        from data_lakehouse_spark.sql import LakehouseSql, mask_strings

        views = self.catalog.views()
        texts = [sql] + [
            views[v]
            for v in self.catalog._view_closure(LakehouseSql._idents(sql), views)
            if v in views
        ]
        if any(_PATH_READ.search(mask_strings(t)) for t in texts):
            return "path_read"
        plan = df._jdf.queryExecution().analyzed()
        if not plan.deterministic():
            return "nondeterministic"
        text = plan.treeString(False, False, 2**31 - 1, False, False)
        if _TIME_OR_USER.search(text):
            return "time_or_user_function"
        root = os.path.abspath(self.catalog.root)
        dirs = tuple(os.path.join(root, t) + os.sep for t in tables)
        subs = plan.subqueriesAll()
        for p in [plan, *(subs.apply(i) for i in range(subs.length()))]:
            leaves = p.collectLeaves()
            for i in range(leaves.length()):
                leaf = leaves.apply(i)
                kind = leaf.getClass().getSimpleName()
                if kind == "CTERelationRef":
                    continue  # its definition's leaves are in this plan too
                if kind != "LogicalRelation":
                    return "non_catalog_leaf"
                try:
                    paths = leaf.relation().location().rootPaths()
                except Exception:  # a relation that is not a file scan
                    return "non_catalog_leaf"
                for j in range(paths.length()):
                    local = os.path.normpath(paths.apply(j).toUri().getPath())
                    if not (local + os.sep).startswith(dirs):
                        return "non_catalog_leaf"
        return None

    def _evict_lru_locked(self) -> None:
        """At the session cap, evict the least-recently-used session
        with no open transaction (caller holds ``_lock``). Sessions
        holding transactions are never evicted here — their staged
        snapshots would be orphaned mid-flight; they age out via the
        transaction timeout in :meth:`_reap` instead."""
        from data_lakehouse_spark.sql import SqlError

        lru = min(
            (
                (s.last_used, k)
                for k, s in self._sessions.items()
                if s.txn_opened_at is None and s.pinned == 0
            ),
            default=None,
        )
        if lru is None:
            raise SqlError(
                f"too many named sessions ({self.max_sessions}), all "
                "with open transactions or in-flight requests; COMMIT "
                "or ROLLBACK one"
            )
        del self._sessions[lru[1]]

    def _reap(self) -> None:
        """Expire idle sessions and auto-rollback transactions open past
        ``txn_timeout`` — without this, one abandoned client with an
        open transaction would serialize the endpoint and block every
        unstaged writer on its tables forever."""
        now = time.monotonic()
        with self._lock:
            for k in [
                k
                for k, s in self._sessions.items()
                if s.txn_opened_at is None
                and s.pinned == 0
                and now - s.last_used > self.session_timeout
            ]:
                del self._sessions[k]
            expired = [
                (s, s.txn_opened_at)
                for s in self._sessions.values()
                if s.txn_opened_at is not None
                and s.pinned == 0  # never yank a txn mid-statement
                and now - s.txn_opened_at > self.txn_timeout
            ]
        if not expired:
            return
        # exclusive gate is what correctness needs (no reader may
        # observe the rollback's view churn); _lock is taken only for
        # the per-session bookkeeping flip so concurrent requests'
        # session-table access isn't blocked behind catalog I/O
        self._gate.acquire_write()
        try:
            for s, opened_at in expired:
                with self._lock:
                    # roll back only the SAME transaction instance we
                    # snapshotted as expired: if the client resolved it
                    # and opened a new one while we waited for the
                    # gate, txn_opened_at differs — never kill the
                    # fresh transaction (TOCTOU). Likewise skip a
                    # session that pinned while we waited: its
                    # statement is blocked on our gate and must run in
                    # its (still-open) transaction, not post-rollback.
                    if s.txn_opened_at != opened_at or s.pinned != 0:
                        continue
                    s.txn_opened_at = None
                    s.aborted = (
                        "current transaction timed out and was rolled "
                        "back by the server; issue ROLLBACK (or BEGIN "
                        "a new transaction) to continue"
                    )
                try:
                    s.router.execute("ROLLBACK")
                except Exception:
                    pass
            self.catalog.register_views()
        finally:
            self._gate.release_write()

    def run_chart(self, slug: str) -> dict:
        """Compile the chart spec to its ONE deterministic SQL statement
        (serving.compile_chart) and execute it against the latest
        registered marts. Raises ``KeyError`` for an unknown slug."""
        from data_lakehouse_spark import serving as _serving

        for chart in self.assets.charts:
            if _chart_slug(chart.name) == slug:
                stmt = _serving.compile_chart(
                    chart, self.assets.dataset(chart.dataset_key)
                )
                out = self.execute(stmt, limit=max(chart.row_limit, 1))
                out["chart"] = chart.name
                out["sql"] = stmt
                return out
        raise KeyError(slug)

    def start(self) -> "SqlEndpoint":
        self._thread = threading.Thread(
            target=self._server.serve_forever, daemon=True
        )
        self._thread.start()
        return self

    def stop(self) -> None:
        self._server.shutdown()
        self._server.server_close()
        if self._thread:
            self._thread.join(timeout=10)

    def serve_forever(self) -> None:
        """Foreground variant for the CLI ``serve`` subcommand."""
        self._server.serve_forever()


def _rollback_ack_response() -> dict:
    """Synthetic ROLLBACK acknowledgement for a session whose
    transaction the reaper already rolled back."""
    stats = {
        "op": "rollback",
        "txn_id": None,
        "note": (
            "transaction was already rolled back by the server after "
            "timing out"
        ),
    }
    return {
        "columns": ["key", "value"],
        "rows": [[k, _plain(x)] for k, x in stats.items()],
        "n": len(stats),
        "truncated": False,
        "stats": {k: _plain(x) for k, x in stats.items()},
    }


def _chart_slug(name: str) -> str:
    import re

    return re.sub(r"[^0-9a-zA-Z]+", "-", name).strip("-").lower()


def _plain(v):
    """JSON-safe rendering of a Spark row value."""
    import datetime
    import decimal
    import math

    if isinstance(v, float) and not math.isfinite(v):
        # bare NaN/Infinity tokens are not legal JSON (RFC 8259) and
        # break strict parsers; all non-finite values render as null so
        # numeric result columns stay single-typed for JSON/DBAPI
        # consumers (a string "Infinity" inside a float column breaks
        # pandas/numpy downstream)
        return None
    if isinstance(v, datetime.datetime):
        return v.isoformat(sep=" ")
    if isinstance(v, datetime.date):
        return v.isoformat()
    if isinstance(v, decimal.Decimal):
        return str(v)
    if isinstance(v, bytes):
        import base64

        return base64.b64encode(v).decode("ascii")
    if isinstance(v, list):
        return [_plain(x) for x in v]
    if isinstance(v, dict):
        return {k: _plain(x) for k, x in v.items()}
    try:  # Row (struct)
        return {k: _plain(x) for k, x in v.asDict().items()}
    except AttributeError:
        return v
