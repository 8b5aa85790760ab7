"""SQL front-end over the versioned catalog — the dbt/Thrift entry path.

The reference's primary user interface is SQL text: dbt compiles models
and sends ``CREATE TABLE AS`` / ``INSERT`` / ``MERGE`` statements to a
Spark Thrift Server (dbt/profiles.yml:5-9, SURVEY.md §3.2), and the
schema-evolution demo issues ``ALTER TABLE ... ADD COLUMN``
(spark/jobs/schema_add_column.py:24-28). A user migrating from the
reference therefore arrives holding SQL strings, not Python calls.

:func:`execute_sql` accepts that SQL and routes it:

- **Queries** (``SELECT`` / ``WITH`` / ``DESCRIBE`` / ``SHOW``) run
  through Spark SQL against the catalog's registered views, after
  rewriting Iceberg/Delta time-travel clauses
  (``t VERSION AS OF 3``, ``t TIMESTAMP AS OF '...'``) into snapshot-
  pinned temp views. ``VERSION AS OF '<string>'`` resolves tags, then
  branches — the Iceberg ref rule. ``table_changes('t', from[, to])``
  (Delta's CDF table function) rewrites to the catalog's change feed.
- **DML** (``INSERT`` / ``UPDATE`` / ``DELETE`` / ``MERGE INTO``)
  dispatches to the catalog's transactional verbs
  (:meth:`~data_lakehouse_spark.catalog.Catalog.append`,
  :meth:`~.Catalog.update_where`, :meth:`~.Catalog.delete_where`,
  :meth:`~.Catalog.merge_into`) so every statement is a versioned
  commit with snapshot isolation — never a blind file write.
- **DDL** (``CREATE TABLE AS`` / ``CREATE VIEW`` / ``ALTER TABLE`` /
  ``DROP``) maps to the catalog's schema-evolution surface.
- **Maintenance** uses both dialect spellings: ``OPTIMIZE t`` →
  :meth:`~.Catalog.compact`, ``VACUUM t`` →
  :meth:`~.Catalog.remove_orphan_files`, and Iceberg-style stored
  procedures ``CALL expire_snapshots(...)`` against a whitelist.
- **Transactions**: ``BEGIN [TRANSACTION]`` opens a multi-table
  transaction on this session; ``INSERT INTO/OVERWRITE`` statements
  stage WAP snapshots (reads in the same session see them —
  read-your-own-writes; other sessions don't), and ``COMMIT`` /
  ``ROLLBACK`` publishes or discards them all-or-nothing
  (:mod:`~data_lakehouse_spark.transactions`). In-place DML
  (UPDATE/DELETE/MERGE) and DDL refuse inside a transaction — the
  same staging limits as Iceberg WAP.

Only statement STRUCTURE is parsed here (statement kind, table names,
clause boundaries); every expression — projections, predicates, merge
assignments — is handed to Spark SQL verbatim, so the full Catalyst
expression surface is available inside each clause. Structural parsing
operates on a string-literal-masked copy of the text (so an ``'AS OF'``
inside a literal can't confuse it) while all slices are taken from the
original text.

Scale note: DML statements inherit the catalog verbs' directory-pruned
copy-on-write / merge-on-read machinery — a ``DELETE`` over a 100 TB
table rewrites only the directories holding hits (or, with the ``MOR``
hint, writes only a positional delete file).
"""

from __future__ import annotations

import json
import re
from typing import Callable

from pyspark.sql import DataFrame, SparkSession

from data_lakehouse_spark.catalog import TEMP_VIEW_LOCK
from data_lakehouse_spark.session import collect


class SqlError(ValueError):
    """Raised for statements the dialect router cannot express, with a
    message naming the supported alternative."""


# ---------------------------------------------------------------------------
# lexical helpers
# ---------------------------------------------------------------------------


def strip_comments(sql: str) -> str:
    """Remove ``--`` line comments and ``/* */`` block comments, except
    inside string literals. Hint comments (``/*+ ... */``) are KEPT."""
    out: list[str] = []
    i, n = 0, len(sql)
    while i < n:
        c = sql[i]
        if c == "'":
            j = i + 1
            while j < n:
                if sql[j] == "'":
                    if j + 1 < n and sql[j + 1] == "'":
                        j += 2
                        continue
                    break
                j += 1
            out.append(sql[i : j + 1])
            i = j + 1
        elif c == "-" and sql[i : i + 2] == "--":
            j = sql.find("\n", i)
            i = n if j < 0 else j
        elif c == "/" and sql[i : i + 2] == "/*" and sql[i : i + 3] != "/*+":
            j = sql.find("*/", i + 2)
            if j < 0:
                raise SqlError("unterminated block comment")
            i = j + 2
        else:
            out.append(c)
            i += 1
    return "".join(out)


def mask_strings(sql: str) -> str:
    """Return a same-length copy with the CONTENTS of every
    single-quoted literal replaced by spaces (quotes preserved), so
    structural regexes can run on the mask while slices are taken from
    the original. ``''`` escapes are handled."""
    chars = list(sql)
    i, n = 0, len(sql)
    while i < n:
        if chars[i] == "'":
            j = i + 1
            while j < n:
                if chars[j] == "'":
                    if j + 1 < n and chars[j + 1] == "'":
                        chars[j] = " "
                        chars[j + 1] = " "
                        j += 2
                        continue
                    break
                chars[j] = " "
                j += 1
            if j >= n:
                raise SqlError("unterminated string literal")
            i = j + 1
        else:
            i += 1
    return "".join(chars)


def split_statements(text: str) -> list[str]:
    """Split a script on top-level semicolons (string-literal aware)."""
    text = strip_comments(text)
    mask = mask_strings(text)
    stmts, start = [], 0
    for i, c in enumerate(mask):
        if c == ";":
            s = text[start:i].strip()
            if s:
                stmts.append(s)
            start = i + 1
    tail = text[start:].strip()
    if tail:
        stmts.append(tail)
    return stmts


def _split_top_level(text: str, sep: str = ",") -> list[str]:
    """Split on ``sep`` at paren depth 0 (string-literal aware)."""
    mask = mask_strings(text)
    parts, depth, start = [], 0, 0
    for i, c in enumerate(mask):
        if c == "(":
            depth += 1
        elif c == ")":
            depth -= 1
        elif c == sep and depth == 0:
            parts.append(text[start:i])
            start = i + 1
    parts.append(text[start:])
    return [p.strip() for p in parts if p.strip()]


_IDENT = r"[A-Za-z_][A-Za-z_0-9]*"


def _qualify(expr: str, alias_map: dict[str, str]) -> str:
    """Rewrite ``alias.col`` per alias_map (alias → prefix for col);
    an empty prefix drops the qualifier. Used by MERGE to map source
    refs to the catalog's ``_s_<col>`` convention."""
    mask = mask_strings(expr)
    out, last = [], 0
    for m in re.finditer(rf"\b({_IDENT})\s*\.\s*({_IDENT})\b", mask):
        alias, col = m.group(1), m.group(2)
        if alias not in alias_map:
            continue
        out.append(expr[last : m.start()])
        out.append(alias_map[alias] + col)
        last = m.end()
    out.append(expr[last:])
    return "".join(out)


# ---------------------------------------------------------------------------
# the router
# ---------------------------------------------------------------------------


class LakehouseSql:
    """Statement router bound to one :class:`~.catalog.Catalog`.

    ``execute`` returns a :class:`DataFrame` for queries and a plain
    ``dict`` (the catalog verb's commit stats) for DML/DDL/maintenance
    — the two shapes a SQL endpoint needs to serialize.
    """

    def __init__(self, catalog) -> None:
        self.catalog = catalog
        self.spark: SparkSession = catalog.spark
        #: open multi-table transaction (BEGIN … COMMIT/ROLLBACK)
        self._txn = None

    # -- public entry points ------------------------------------------------

    def execute(self, sql: str) -> DataFrame | dict:
        stmts = split_statements(sql)
        if not stmts:
            raise SqlError("empty SQL text")
        if len(stmts) > 1:
            raise SqlError(
                f"{len(stmts)} statements in one execute() call — "
                "use execute_script() for multi-statement scripts"
            )
        return self._dispatch(stmts[0])

    def execute_script(self, sql: str) -> list[DataFrame | dict]:
        """Run each ``;``-separated statement in order. DML/DDL execute
        at their position; a SELECT's returned DataFrame is analyzed at
        its position too — the snapshot file listing is pinned into the
        resolved plan, so evaluating it after a later DML still returns
        the statement-order-correct result."""
        return [self._dispatch(s) for s in split_statements(sql)]

    # -- dispatch -----------------------------------------------------------

    def _dispatch(self, stmt: str) -> DataFrame | dict:
        head = re.match(rf"\s*({_IDENT})", stmt)
        if not head:
            raise SqlError(f"unparseable statement: {stmt[:80]!r}")
        kw = head.group(1).upper()
        handler: Callable[[str], DataFrame | dict] | None = {
            "SELECT": self._query,
            "WITH": self._query,
            "TABLE": self._query,
            "VALUES": self._query,
            "DESCRIBE": self._describe,
            "DESC": self._describe,
            "SHOW": self._show,
            "CREATE": self._create,
            "INSERT": self._insert,
            "UPDATE": self._update,
            "DELETE": self._delete,
            "MERGE": self._merge,
            "ALTER": self._alter,
            "DROP": self._drop,
            "OPTIMIZE": self._optimize,
            "VACUUM": self._vacuum,
            "CALL": self._call,
            "EXPLAIN": self._explain,
            "RESTORE": self._restore,
            "TRUNCATE": self._truncate,
            "COPY": self._copy_into,
            "ANALYZE": self._analyze,
            "REFRESH": self._refresh_mv,
            "BEGIN": self._begin,
            "START": self._begin,
            "COMMIT": self._commit_txn,
            "ROLLBACK": self._rollback_txn,
        }.get(kw)
        if handler is None:
            raise SqlError(f"unsupported statement kind {kw}")
        if self._txn is not None and kw in self._NON_TXN_KW:
            raise SqlError(
                f"{kw} is not transactional — only INSERT INTO/OVERWRITE "
                "and reads may run inside BEGIN … COMMIT (in-place "
                "rewrites can't be staged; COMMIT or ROLLBACK first)"
            )
        return handler(stmt)

    #: statement kinds refused while a transaction is open: everything
    #: that commits in place or mutates metadata outside WAP staging
    _NON_TXN_KW = frozenset(
        {"UPDATE", "DELETE", "MERGE", "CREATE", "DROP", "ALTER",
         "OPTIMIZE", "VACUUM", "CALL", "RESTORE", "TRUNCATE", "COPY",
         "ANALYZE", "REFRESH"}
    )

    # -- transactions -------------------------------------------------------

    def _begin(self, stmt: str) -> dict:
        if not re.match(
            r"\s*(BEGIN|START)(\s+TRANSACTION)?\s*$", stmt, re.I
        ):
            raise SqlError("expected: BEGIN [TRANSACTION]")
        if self._txn is not None:
            raise SqlError("a transaction is already open (no nesting)")
        self._txn = self.catalog.transaction().__enter__()  # runs recovery
        return {"op": "begin", "txn_id": self._txn.txn_id}

    def _commit_txn(self, stmt: str) -> dict:
        if self._txn is None:
            raise SqlError("COMMIT without an open transaction")
        txn, self._txn = self._txn, None
        tables = txn.commit()
        return {"op": "commit", "txn_id": txn.txn_id,
                "tables": sorted(tables)}

    def _rollback_txn(self, stmt: str) -> dict:
        if self._txn is None:
            raise SqlError("ROLLBACK without an open transaction")
        txn, self._txn = self._txn, None
        txn.abort()
        return {"op": "rollback", "txn_id": txn.txn_id}

    # -- queries ------------------------------------------------------------

    #: SQL-addressable metadata tables (the Iceberg ``t.snapshots``
    #: shape): <table>.<meta> rewrites to a registered temp view.
    _META_TABLES = ("snapshots", "files", "partitions")

    def _query(self, stmt: str) -> DataFrame:
        # registration and analysis under one lock: the plan binds the
        # temp views THIS statement registered, never a concurrent
        # statement's re-registration of the same name
        with TEMP_VIEW_LOCK:
            # scoped registration: only the statement's identifiers
            # (plus view-dependency closure) resolve snapshots —
            # O(referenced tables), not O(catalog size), per statement
            self.catalog.register_views(names=self._idents(stmt))
            if self._txn is not None:
                # read-your-own-writes: tables this transaction has
                # staged resolve to their staged snapshots for THIS
                # session
                for name, (v, _) in self._txn._staged.items():
                    self.catalog.read(
                        name, version=v
                    ).createOrReplaceTempView(name)
            stmt = self._rewrite_meta_tables(stmt)
            stmt = self._rewrite_table_changes(stmt)
            return self.spark.sql(self._rewrite_time_travel(stmt))

    def _rewrite_table_changes(self, stmt: str) -> str:
        """Delta's CDF table function: ``table_changes('t', from[, to])``
        becomes a registered temp view of
        :meth:`~.Catalog.table_changes` (row images + ``_change_type`` /
        ``_commit_version``). ``to`` defaults to the current version.
        Matched on the string-masked copy, but the quoted table name is
        read from the ORIGINAL text slice."""
        mask = mask_strings(stmt)
        out = stmt
        pat = re.compile(
            r"\btable_changes\s*\(\s*('[^']*')\s*,\s*(\d+)\s*"
            r"(?:,\s*(\d+)\s*)?\)",
            re.I,
        )
        for m in reversed(list(pat.finditer(mask))):
            name = stmt[m.start(1) + 1 : m.end(1) - 1]
            if not self.catalog.table_exists(name):
                raise SqlError(f"table_changes: no table {name!r}")
            frm = int(m.group(2))
            to = int(m.group(3)) if m.group(3) else None
            df = self.catalog.table_changes(name, frm, to)
            view = f"{name}__changes_{frm}_{to if to is not None else 'cur'}"
            df.createOrReplaceTempView(view)
            out = out[: m.start()] + view + out[m.end():]
        return out

    def _rewrite_meta_tables(self, stmt: str) -> str:
        """``FROM t.snapshots|files|partitions`` over a catalog table
        becomes a registered ``t__<meta>`` temp view (Iceberg's
        metadata-table addressing; matched on the string-masked copy so
        literals can't trigger it)."""
        mask = mask_strings(stmt)
        out = stmt
        for m in reversed(
            list(
                re.finditer(
                    rf"\b({_IDENT})\.({'|'.join(self._META_TABLES)})\b",
                    mask,
                    re.I,
                )
            )
        ):
            tbl, meta = m.group(1), m.group(2).lower()
            if not self.catalog.table_exists(tbl):
                continue
            view = f"{tbl}__{meta}"
            getattr(self.catalog, meta)(tbl).createOrReplaceTempView(view)
            out = out[: m.start()] + view + out[m.end():]
        return out

    @staticmethod
    def _idents(stmt: str) -> set[str]:
        """Over-approximate identifier set of a statement (keywords
        included — harmless, they intersect no table name)."""
        return set(re.findall(_IDENT, mask_strings(stmt)))

    def _explain(self, stmt: str) -> DataFrame:
        m = re.match(r"\s*EXPLAIN\s+ANALYZE\b(.*)$", stmt, re.I | re.S)
        if m:
            import time as _time

            df = self._query(m.group(1).strip())
            t0 = _time.time()
            # drive THIS QueryExecution's physical plan to completion
            # (RDD count: full materialization, no driver row transfer
            # — a noop write or count() would execute a fresh clone and
            # the final adaptive plan would be lost)
            qe = df._jdf.queryExecution()
            qe.executedPlan().execute().count()
            wall = round(_time.time() - t0, 3)
            plan = qe.executedPlan().toString()
            return self.spark.createDataFrame(
                [(wall, plan)], "wall_sec double, plan string"
            )
        out = self._query(stmt)
        hints = self._stats_hints(stmt)
        if hints and out.columns == ["plan"]:
            # append the manifest-skipping suggestions UNDER the Spark
            # plan text (same single-row shape EXPLAIN consumers parse)
            row = collect(out)
            if len(row) == 1:
                text = row[0]["plan"].rstrip() + "\n\n" + "\n".join(hints)
                return self.spark.createDataFrame(
                    [(text,)], "plan string"
                )
        return out

    def _stats_hints(self, stmt: str) -> list[str]:
        """``read(prune=...)`` suggestions for every catalog table the
        statement references (Catalog.prune_hints: per-dir min/max
        coverage from the manifest + ANALYZE sidecar range/NDV) — the
        consumption side of the stats ANALYZE writes."""
        hints: list[str] = []
        for name in sorted(self._idents(stmt)):
            try:
                if self.catalog.table_exists(name):
                    hints.extend(self.catalog.prune_hints(name))
            except Exception:
                continue
        return hints

    def _rewrite_time_travel(self, stmt: str) -> str:
        """Rewrite ``<table> [FOR] VERSION|TIMESTAMP AS OF <v>`` into a
        snapshot-pinned temp view. A string VERSION argument resolves as
        tag first, then branch (the Iceberg ref rule)."""
        pat = re.compile(
            rf"\b({_IDENT})\s+(?:FOR\s+)?(VERSION|TIMESTAMP)\s+AS\s+OF\s+"
            rf"(\d+|'[^']*')",
            re.IGNORECASE,
        )
        out, last = [], 0
        mask = mask_strings(stmt)
        for m in pat.finditer(mask):
            name, kind = m.group(1), m.group(2).upper()
            arg = stmt[m.start(3) : m.end(3)]  # slice ORIGINAL text
            if not self.catalog.table_exists(name):
                raise SqlError(f"time travel on unknown table {name!r}")
            if kind == "VERSION":
                if arg.startswith("'"):
                    ref = arg[1:-1]
                    try:
                        df = self.catalog.read(name, tag=ref)
                        view = f"{name}__tag_{_safe(ref)}"
                    except ValueError:
                        df = self.catalog.read(name, branch=ref)
                        view = f"{name}__branch_{_safe(ref)}"
                else:
                    df = self.catalog.read(name, version=int(arg))
                    view = f"{name}__v{arg}"
            else:
                if not arg.startswith("'"):
                    raise SqlError("TIMESTAMP AS OF takes a quoted timestamp")
                ts = arg[1:-1]
                df = self.catalog.read(name, as_of=ts)
                view = f"{name}__asof_{_safe(ts)}"
            df.createOrReplaceTempView(view)
            out.append(stmt[last : m.start()])
            out.append(view)
            last = m.end()
        out.append(stmt[last:])
        return "".join(out)

    # -- metadata queries ---------------------------------------------------

    def _describe(self, stmt: str) -> DataFrame:
        m = re.match(
            rf"\s*DESC(?:RIBE)?\s+(?:TABLE\s+)?({_IDENT})\s*$", stmt, re.I
        )
        if not m:
            raise SqlError("expected: DESCRIBE [TABLE] <name>")
        rows = self.catalog.describe(m.group(1))
        return self.spark.createDataFrame(
            [
                (r.get("col_name"), r.get("data_type"), r.get("comment"))
                for r in rows
            ],
            "col_name string, data_type string, comment string",
        )

    def _copy_into(self, stmt: str) -> dict:
        """``COPY INTO t FROM '<dir-or-glob>' FILEFORMAT = CSV|PARQUET|
        JSON [PATTERN = '<glob>']`` — idempotent incremental file
        ingestion (the bronze CSV landing path as one SQL verb, the
        Delta ``COPY INTO`` shape). Exactly-once: the loaded-file list
        rides in the SAME commit as the rows it covers
        (``append(properties_update=...)``), so a crashed load either
        committed both or neither, and re-running skips loaded files.

        Scale note: the loaded set is a table property — right for the
        periodic-batch landing this verb serves; a firehose of millions
        of files belongs on the streaming source instead."""
        import glob as globmod
        import os

        mask = mask_strings(stmt)
        m = re.match(
            rf"\s*COPY\s+INTO\s+({_IDENT})\s+FROM\s+('[^']*')\s+"
            rf"FILEFORMAT\s*=\s*(CSV|PARQUET|JSON)"
            rf"(?:\s+PATTERN\s*=\s*('[^']*'))?\s*$",
            mask, re.I,
        )
        if not m:
            raise SqlError(
                "expected: COPY INTO t FROM '<path>' FILEFORMAT = "
                "CSV|PARQUET|JSON [PATTERN = '<glob>']"
            )
        name = m.group(1)
        src = stmt[m.start(2) + 1 : m.end(2) - 1]
        fmt = m.group(3).lower()
        pattern = (
            stmt[m.start(4) + 1 : m.end(4) - 1] if m.group(4) else None
        )
        root = os.path.join(src, pattern) if pattern else src
        if os.path.isdir(root):
            root = os.path.join(root, "*")
        candidates = sorted(
            os.path.abspath(p)
            for p in globmod.glob(root)
            if os.path.isfile(p)
        )
        props = self.catalog.table_properties(name)
        loaded = set(json.loads(props.get("copy.loaded_files", "[]")))
        new_files = [p for p in candidates if p not in loaded]
        if not new_files:
            return {"op": "copy_into", "name": name, "files_loaded": 0,
                    "files_skipped": len(candidates), "rows_inserted": 0}
        tschema = self.catalog.read(name).schema
        reader = self.spark.read
        if fmt == "csv":
            df = reader.schema(tschema).option("header", "true").csv(new_files)
        elif fmt == "json":
            df = reader.schema(tschema).json(new_files)
        else:
            df = reader.parquet(*new_files).select(
                *[c for c in tschema.names]
            )
        before = self.catalog.row_count(name)
        self.catalog.append(
            name,
            df,
            properties_update={
                "copy.loaded_files": json.dumps(
                    sorted(loaded | set(new_files))
                )
            },
        )
        return {
            "op": "copy_into",
            "name": name,
            "files_loaded": len(new_files),
            "files_skipped": len(candidates) - len(new_files),
            "rows_inserted": self.catalog.row_count(name) - before,
        }

    def _analyze(self, stmt: str) -> dict:
        """``ANALYZE TABLE t COMPUTE STATISTICS [FOR COLUMNS a, b |
        FOR ALL COLUMNS]`` — Spark's stats DDL routed onto
        catalog.analyze_table (per-snapshot stats sidecar)."""
        m = re.match(
            rf"\s*ANALYZE\s+TABLE\s+({_IDENT})\s+COMPUTE\s+STATISTICS"
            rf"(?:\s+FOR\s+(ALL\s+COLUMNS|COLUMNS\s+(.+?)))?\s*$",
            stmt,
            re.I | re.S,
        )
        if not m:
            raise SqlError(
                "expected: ANALYZE TABLE <name> COMPUTE STATISTICS "
                "[FOR COLUMNS a, b | FOR ALL COLUMNS]"
            )
        name, _, col_list = m.group(1), m.group(2), m.group(3)
        columns = (
            [c.strip() for c in _split_top_level(col_list)]
            if col_list
            else None
        )
        stats = self.catalog.analyze_table(name, columns)
        return {
            "op": "analyze",
            "table": name,
            "version": stats["version"],
            "row_count": stats["row_count"],
            "n_columns": len(stats["columns"]),
        }

    def _show(self, stmt: str) -> DataFrame:
        if re.match(r"\s*SHOW\s+TRANSACTIONS\s*$", stmt, re.I):
            # this session's open transaction + any decided-but-
            # unflipped intents in the warehouse (crash leftovers that
            # recover_transactions / the next BEGIN will roll forward)
            import os as _os

            rows = []
            if self._txn is not None:
                for t, (v, _) in sorted(self._txn._staged.items()):
                    rows.append(
                        (self._txn.txn_id, "open", t, v)
                    )
                if not self._txn._staged:
                    rows.append((self._txn.txn_id, "open", None, None))
            tdir = _os.path.join(self.catalog.root, "_txn")
            if _os.path.isdir(tdir):
                for fn in sorted(_os.listdir(tdir)):
                    if not fn.endswith(".json"):
                        continue
                    try:
                        with open(_os.path.join(tdir, fn)) as f:
                            intent = json.load(f)
                    except (OSError, json.JSONDecodeError):
                        continue
                    for t, v in sorted(intent.get("tables", {}).items()):
                        rows.append(
                            (intent["txn_id"], "decided", t, int(v))
                        )
            return self.spark.createDataFrame(
                rows or [("", "", None, None)],
                "txn_id string, state string, table string, "
                "staged_version int",
            ).filter("txn_id <> ''")
        if re.match(r"\s*SHOW\s+TABLES\s*$", stmt, re.I):
            mvs = set(self.catalog.materialized_views())
            rows = [
                (t, "materialized_view" if t in mvs else "table")
                for t in self.catalog.tables()
            ] + [(v, "view") for v in self.catalog.views()]
            return self.spark.createDataFrame(
                rows or [("", "")], "name string, kind string"
            ).filter("name <> ''")
        m = re.match(
            rf"\s*SHOW\s+CREATE\s+TABLE\s+({_IDENT})\s*$", stmt, re.I
        )
        if m:
            name = m.group(1)
            cols = ",\n  ".join(
                f"{r['col_name']} {r['data_type'].upper()}"
                + (f" COMMENT '{r['comment']}'" if r["comment"] else "")
                for r in self.catalog.describe(name)
            )
            ddl = f"CREATE TABLE {name} (\n  {cols}\n)"
            entries = self.catalog._load_manifest(self.catalog._handle(name))
            head = self.catalog._main_head(entries, name)
            pb = head.get("partition_by")
            if pb:
                ddl += f"\nPARTITIONED BY ({', '.join(pb)})"
            props = {
                k: v
                for k, v in (head.get("properties") or {}).items()
                if not k.startswith("copy.")
            }
            if props:
                kv = ", ".join(
                    f"'{k}'='{v}'" for k, v in sorted(props.items())
                )
                ddl += f"\nTBLPROPERTIES ({kv})"
            return self.spark.createDataFrame(
                [(ddl,)], "createtab_stmt string"
            )
        m = re.match(rf"\s*SHOW\s+TBLPROPERTIES\s+({_IDENT})\s*$", stmt, re.I)
        if m:
            props = self.catalog.table_properties(m.group(1))
            return self.spark.createDataFrame(
                [(k, str(v)) for k, v in sorted(props.items())]
                or [("", "")],
                "key string, value string",
            ).filter("key <> ''")
        m = re.match(
            rf"\s*SHOW\s+STATS\s+(?:FOR\s+)?({_IDENT})\s*$", stmt, re.I
        )
        if m:
            return self.catalog.show_stats(m.group(1))
        raise SqlError(
            "expected: SHOW TABLES | SHOW TBLPROPERTIES <name> | "
            "SHOW STATS FOR <name>"
        )

    # -- DDL ----------------------------------------------------------------

    def _create(self, stmt: str) -> dict:
        m = re.match(
            rf"\s*CREATE\s+(OR\s+REPLACE\s+)?TABLE\s+(IF\s+NOT\s+EXISTS\s+)?"
            rf"({_IDENT})\s*(.*?)\bAS\b(.*)$",
            mask_strings(stmt),
            re.I | re.S,
        )
        if m:
            return self._create_table(stmt, m)
        m = re.match(
            rf"\s*CREATE\s+(OR\s+REPLACE\s+)?MATERIALIZED\s+VIEW\s+"
            rf"({_IDENT})\s+AS\b(.*)$",
            mask_strings(stmt),
            re.I | re.S,
        )
        if m:
            name = m.group(2)
            body = stmt[m.start(3) : m.end(3)].strip()
            (source, join_dim, join_on, group_cols, measures, where) = (
                self._parse_matview_select(body)
            )
            return self.catalog.create_materialized_view(
                name,
                source=source,
                group_cols=group_cols,
                measures=measures,
                sql_text=body,
                where=where,
                join_dim=join_dim,
                join_on=join_on,
                replace=bool(m.group(1)),
            )
        m = re.match(
            rf"\s*CREATE\s+(OR\s+REPLACE\s+)?VIEW\s+({_IDENT})\s+AS\b(.*)$",
            mask_strings(stmt),
            re.I | re.S,
        )
        if m:
            name = m.group(2)
            body = stmt[m.start(3) : m.end(3)].strip()
            # validate the definition parses/resolves before persisting
            with TEMP_VIEW_LOCK:
                self.catalog.register_views(names=self._idents(body))
                self.spark.sql(self._rewrite_time_travel(body))
            self.catalog.create_view(name, body, replace=bool(m.group(1)))
            return {"op": "create_view", "name": name}
        raise SqlError(
            "expected: CREATE [OR REPLACE] TABLE [IF NOT EXISTS] <name> "
            "[PARTITIONED BY (...)] [TBLPROPERTIES (...)] AS <select> | "
            "CREATE [OR REPLACE] [MATERIALIZED] VIEW <name> AS <select>"
        )

    def _parse_matview_join(self, clause: str, fact: str, dim: str) -> list[str]:
        """JOIN condition → same-named key list. Accepts
        ``USING (a, b)`` and ``ON f.k = d.k AND ...`` (qualifiers
        optional but must name the joined tables; differently-named
        key pairs refuse — the IVM maintainer joins USING-style)."""
        um = re.match(r"USING\s*\(\s*(.+?)\s*\)\s*$", clause, re.I | re.S)
        if um:
            return [k.strip() for k in um.group(1).split(",")]
        on = re.match(r"ON\s+(.+)$", clause, re.I | re.S)
        keys = []
        for pair in re.split(r"\s+AND\s+", on.group(1), flags=re.I):
            pm = re.match(
                rf"\s*(?:({_IDENT})\s*\.\s*)?({_IDENT})\s*=\s*"
                rf"(?:({_IDENT})\s*\.\s*)?({_IDENT})\s*$",
                pair,
            )
            if not pm or pm.group(2) != pm.group(4):
                raise SqlError(
                    f"materialized-view join condition {pair.strip()!r}: "
                    "only same-named equi-join keys are maintainable "
                    "(k = k, fact.k = dim.k, or USING (k)); rename the "
                    "key in a staged table first"
                )
            for q in (pm.group(1), pm.group(3)):
                if q and q not in (fact, dim):
                    raise SqlError(
                        f"join qualifier {q!r} names neither {fact} nor "
                        f"{dim}"
                    )
            keys.append(pm.group(2))
        return keys

    def _parse_matview_select(self, body: str) -> tuple[
        str, str | None, list[str] | None, list[str],
        dict[str, tuple[str, str | None]], str | None,
    ]:
        """Parse an incrementally-maintainable aggregate SELECT into the
        CdcAggregate contract: plain group columns + SUM / COUNT(*) /
        COUNT(col) / COUNT(DISTINCT col) / MIN / MAX / AVG aggregates
        over ONE catalog table — or a fact JOIN dim pair (delta-join
        IVM; algebraic measures only) — with an optional WHERE
        predicate (applied to change images before folding). Anything
        outside that shape refuses loudly — a materialized view that
        silently fell back to full recompute would betray the REFRESH
        cost contract."""
        mask = mask_strings(body)
        m = re.match(
            rf"\s*SELECT\s+(.*?)\s+FROM\s+({_IDENT})"
            rf"(?:\s+(?:INNER\s+)?JOIN\s+({_IDENT})\s+"
            rf"(ON\s+.+?|USING\s*\(.+?\)))?"
            rf"(?:\s+WHERE\s+(.+?))?\s+GROUP\s+BY\s+(.+?)\s*$",
            mask,
            re.I | re.S,
        )
        if not m:
            raise SqlError(
                "materialized view shape: SELECT <group cols + aggregates>"
                " FROM <fact table> [JOIN <dim table> ON k = k | "
                "USING (k)] [WHERE <pred>] GROUP BY <group cols> "
                "(no HAVING/multi-join — stage those into a table first)"
            )
        select_list = body[m.start(1) : m.end(1)]
        source = m.group(2)
        join_dim = m.group(3)
        join_on = (
            self._parse_matview_join(
                body[m.start(4) : m.end(4)], source, join_dim
            )
            if join_dim
            else None
        )
        where = body[m.start(5) : m.end(5)] if m.group(5) else None
        group_by = [
            g.strip()
            for g in _split_top_level(body[m.start(6) : m.end(6)])
        ]
        group_cols: list[str] = []
        measures: dict[str, tuple[str, str | None]] = {}
        for item in _split_top_level(select_list):
            item = item.strip()
            if re.fullmatch(_IDENT, item):
                group_cols.append(item)
                continue
            am = re.fullmatch(
                rf"(SUM|COUNT|MIN|MAX|AVG)\s*\(\s*(DISTINCT\s+)?(.+?)\s*\)"
                rf"\s+AS\s+({_IDENT})",
                item,
                re.I | re.S,
            )
            if not am:
                raise SqlError(
                    f"unsupported materialized-view select item {item!r}: "
                    "use <group col> or SUM|COUNT|MIN|MAX|AVG(expr) AS "
                    "alias (percentiles need the sketch tier)"
                )
            fn, distinct, arg, alias = (
                am.group(1).lower(),
                bool(am.group(2)),
                am.group(3).strip(),
                am.group(4),
            )
            if fn == "count" and distinct:
                measures[alias] = ("count_distinct", arg)
            elif fn == "count":
                # COUNT(*) folds signed rows; COUNT(col) folds a signed
                # count of non-NULL values
                measures[alias] = (
                    ("count", None) if arg == "*" else ("count_col", arg)
                )
            elif distinct:
                raise SqlError(f"DISTINCT only supported under COUNT: {item!r}")
            else:
                measures[alias] = (fn, arg)
        if sorted(group_cols) != sorted(group_by):
            raise SqlError(
                f"GROUP BY columns {group_by} must match the plain select "
                f"columns {group_cols}"
            )
        if not measures:
            raise SqlError("materialized view needs at least one aggregate")
        if join_dim:
            bad = sorted(
                o for o, (k, _) in measures.items()
                if k in ("count_distinct", "min", "max")
            )
            if bad:
                raise SqlError(
                    f"{', '.join(bad)}: count_distinct/min/max are not "
                    "join-maintainable (support tables would need two "
                    "version cursors); maintain them on a pre-joined "
                    "table or use the sketch tier"
                )
        return source, join_dim, join_on, group_cols, measures, where

    def _refresh_mv(self, stmt: str) -> dict:
        m = re.match(
            rf"\s*REFRESH\s+MATERIALIZED\s+VIEW\s+({_IDENT})\s*$", stmt, re.I
        )
        if not m:
            raise SqlError("expected: REFRESH MATERIALIZED VIEW <name>")
        name = m.group(1)
        out = self.catalog.refresh_materialized_view(name)
        return {"op": "refresh_materialized_view", "name": name, **out}

    def _create_table(self, stmt: str, m: re.Match) -> dict:
        or_replace, if_not_exists = bool(m.group(1)), bool(m.group(2))
        name = m.group(3)
        middle = stmt[m.start(4) : m.end(4)]
        select = stmt[m.start(5) : m.end(5)].strip()
        partition_by: list[str] | None = None
        properties: dict[str, str] = {}
        # clause spans found on the MASK (so a quoted ')' inside a
        # property value can't end a clause early), slices from the
        # original text
        middle_mask = mask_strings(middle)
        pm = re.search(
            r"PARTITIONED\s+BY\s*\(([^)]*)\)", middle_mask, re.I
        )
        if pm:
            cols = middle[pm.start(1) : pm.end(1)]
            partition_by = [c.strip() for c in cols.split(",") if c.strip()]
        tm = re.search(
            r"TBLPROPERTIES\s*\((.*?)\)", middle_mask, re.I | re.S
        )
        if tm:
            for kv in _split_top_level(middle[tm.start(1) : tm.end(1)]):
                # '' inside a literal is the SQL-standard escaped quote
                km = re.match(
                    r"\s*'((?:[^']|'')*)'\s*=\s*'((?:[^']|'')*)'\s*$", kv
                )
                if not km:
                    raise SqlError(f"bad TBLPROPERTIES entry: {kv!r}")
                properties[km.group(1).replace("''", "'")] = km.group(
                    2
                ).replace("''", "'")
        leftover = middle_mask
        for m_ in (pm, tm):
            if m_ is not None:
                leftover = (
                    leftover[: m_.start()] + " " * (m_.end() - m_.start())
                    + leftover[m_.end() :]
                )
        leftover = leftover.strip()
        if leftover:
            raise SqlError(
                f"unsupported CREATE TABLE clause: {leftover[:60]!r} "
                "(column lists not supported — use CTAS)"
            )
        if or_replace and if_not_exists:
            raise SqlError("OR REPLACE and IF NOT EXISTS are exclusive")
        mode = "replace" if or_replace else ("ignore" if if_not_exists else "error")
        if mode == "ignore" and self.catalog.table_exists(name):
            return {"op": "create_table", "name": name, "skipped": True}
        df = self._query(select)
        self.catalog.create_table(
            name, df, partition_by=partition_by,
            properties=properties or None, mode=mode,
        )
        return {
            "op": "create_table", "name": name,
            "rows": self.catalog.row_count(name),
        }

    def _alter(self, stmt: str) -> dict:
        s = stmt.strip()
        m = re.match(
            rf"ALTER\s+TABLE\s+({_IDENT})\s+ADD\s+COLUMNS?\s*\(?\s*"
            rf"({_IDENT})\s+([A-Za-z_0-9()<>, ]+?)"
            rf"(?:\s+COMMENT\s+'([^']*)')?\s*\)?\s*$",
            s, re.I,
        )
        if m:
            # DDL type names arrive upper-cased (STRING); the schema
            # parser wants Spark's lowercase simpleString spellings
            self.catalog.add_column(
                m.group(1), m.group(2), m.group(3).strip().lower(), m.group(4)
            )
            return {"op": "add_column", "name": m.group(1), "column": m.group(2)}
        m = re.match(
            rf"ALTER\s+TABLE\s+({_IDENT})\s+RENAME\s+COLUMN\s+({_IDENT})"
            rf"\s+TO\s+({_IDENT})\s*$",
            s, re.I,
        )
        if m:
            self.catalog.rename_column(m.group(1), m.group(2), m.group(3))
            return {"op": "rename_column", "name": m.group(1)}
        m = re.match(
            rf"ALTER\s+TABLE\s+({_IDENT})\s+DROP\s+COLUMN\s+({_IDENT})\s*$",
            s, re.I,
        )
        if m:
            self.catalog.drop_column(m.group(1), m.group(2))
            return {"op": "drop_column", "name": m.group(1)}
        m = re.match(
            rf"ALTER\s+TABLE\s+({_IDENT})\s+ALTER\s+COLUMN\s+({_IDENT})"
            rf"\s+TYPE\s+([A-Za-z_0-9()<>, ]+)\s*$",
            s, re.I,
        )
        if m:
            # catalog schemas use Spark's JSON type names; accept the
            # SQL-DDL synonyms a migrating user will type
            ddl_to_json = {
                "tinyint": "byte", "smallint": "short", "int": "integer",
                "bigint": "long", "real": "float",
                "double precision": "double",
            }
            t = m.group(3).strip().lower()
            self.catalog.alter_column_type(
                m.group(1), m.group(2), ddl_to_json.get(t, t)
            )
            return {"op": "alter_column_type", "name": m.group(1)}
        raise SqlError(
            "expected: ALTER TABLE t ADD COLUMN c type [COMMENT '...'] | "
            "RENAME COLUMN a TO b | DROP COLUMN c | ALTER COLUMN c TYPE t"
        )

    def _drop(self, stmt: str) -> dict:
        m = re.match(
            rf"\s*DROP\s+(MATERIALIZED\s+VIEW|TABLE|VIEW)\s+"
            rf"(IF\s+EXISTS\s+)?({_IDENT})\s*$",
            stmt, re.I,
        )
        if not m:
            raise SqlError(
                "expected: DROP TABLE|VIEW|MATERIALIZED VIEW "
                "[IF EXISTS] <name>"
            )
        kind, if_exists, name = (
            re.sub(r"\s+", " ", m.group(1).upper()),
            bool(m.group(2)),
            m.group(3),
        )
        if kind == "MATERIALIZED VIEW":
            if if_exists and name not in self.catalog.materialized_views():
                return {"op": "drop_materialized_view", "name": name,
                        "skipped": True}
            return self.catalog.drop_materialized_view(name)
        if kind == "VIEW":
            if if_exists and name not in self.catalog.views():
                return {"op": "drop_view", "name": name, "skipped": True}
            self.catalog.drop_view(name)
            return {"op": "drop_view", "name": name}
        if if_exists and not self.catalog.table_exists(name):
            return {"op": "drop_table", "name": name, "skipped": True}
        self.catalog.drop_table(name)
        return {"op": "drop_table", "name": name}

    # -- DML ----------------------------------------------------------------

    def _insert(self, stmt: str) -> dict:
        m = re.match(
            rf"\s*INSERT\s+(INTO|OVERWRITE)\s+(?:TABLE\s+)?({_IDENT})\s*"
            rf"(?:\(([^)]*)\)\s*)?"
            rf"(SELECT|WITH|TABLE|VALUES)\b(.*)$",
            mask_strings(stmt),
            re.I | re.S,
        )
        if not m:
            raise SqlError(
                "expected: INSERT INTO|OVERWRITE <name> [(cols)] "
                "<select|VALUES ...>"
            )
        verb, name = m.group(1).upper(), m.group(2)
        col_list = (
            [c.strip() for c in m.group(3).split(",") if c.strip()]
            if m.group(3) else None
        )
        body = stmt[m.start(4) :].strip()
        tschema = self.catalog.read(name).schema
        tcols = [f.name for f in tschema]
        if m.group(4).upper() == "VALUES":
            df = self._query(f"SELECT * FROM ({body})")
            want = col_list or tcols
            if len(df.columns) != len(want):
                raise SqlError(
                    f"INSERT VALUES arity {len(df.columns)} != "
                    f"target arity {len(want)}"
                )
            df = df.toDF(*want)  # positional within the named list
        else:
            df = self._query(body)
            want = col_list or tcols
            if len(df.columns) != len(want):
                raise SqlError(
                    f"INSERT target arity {len(want)} != "
                    f"select arity {len(df.columns)}"
                )
            df = df.toDF(*want)  # SQL INSERT maps positionally
        from pyspark.sql import functions as _F

        if col_list:
            unknown = set(col_list) - set(tcols)
            if unknown:
                raise SqlError(
                    f"INSERT columns {sorted(unknown)} not in {name}"
                )
            # unlisted columns fill with typed NULLs (SQL semantics)
            df = df.select(
                *[
                    df[c] if c in col_list
                    else _F.lit(None).alias(c)
                    for c in tcols
                ]
            )
        # ANSI store assignment: incoming values cast to the target
        # column types (a DECIMAL literal inserted into a DOUBLE column
        # must not ride in as decimal and mutate the table schema)
        if len(df.columns) != len(tcols):
            raise SqlError(
                f"INSERT arity {len(df.columns)} != table arity {len(tcols)}"
            )
        df = df.select(
            *[
                df[c].cast(tschema[c].dataType).alias(c)
                for c in tcols
            ]
        )
        if self._txn is not None:
            # staged write: visible to this session's reads (RYOW view
            # overrides in _query), published only at COMMIT. Staged
            # appends stack, so a second INSERT into the same table in
            # one txn must baseline against the PREVIOUS staged version,
            # not the published head — else it reports the cumulative
            # staged rows of all prior inserts.
            prev = self._txn._staged.get(name)
            before = (
                self.catalog.row_count(name, version=prev[0])
                if prev is not None
                else self.catalog.row_count(name)
            )
            if verb == "OVERWRITE":
                self._txn.overwrite(name, df)
            else:
                self._txn.append(name, df)
            staged_v = self._txn._staged[name][0]
            staged_rows = self.catalog.row_count(name, version=staged_v)
            return {
                "op": ("insert_overwrite" if verb == "OVERWRITE"
                       else "insert_into"),
                "name": name, "staged_version": staged_v,
                "txn_id": self._txn.txn_id,
                **({"rows": staged_rows} if verb == "OVERWRITE"
                   else {"rows_inserted": staged_rows - before}),
            }
        if verb == "OVERWRITE":
            self.catalog.overwrite(name, df)
            return {"op": "insert_overwrite", "name": name,
                    "rows": self.catalog.row_count(name)}
        before = self.catalog.row_count(name)
        self.catalog.append(name, df)
        return {"op": "insert_into", "name": name,
                "rows_inserted": self.catalog.row_count(name) - before}

    def _update(self, stmt: str) -> dict:
        mask = mask_strings(stmt)
        m = re.match(
            rf"\s*UPDATE\s+({_IDENT})\s+SET\s+(.*?)(?:\s+WHERE\s+(.*))?$",
            mask, re.I | re.S,
        )
        if not m:
            raise SqlError("expected: UPDATE <name> SET a = expr, ... [WHERE cond]")
        name = m.group(1)
        set_text = stmt[m.start(2) : m.end(2)]
        cond = stmt[m.start(3) : m.end(3)].strip() if m.group(3) else "true"
        assignments: dict[str, str] = {}
        for part in _split_top_level(set_text):
            am = re.match(rf"\s*({_IDENT})\s*=\s*(.+)$", part, re.S)
            if not am:
                raise SqlError(f"bad SET assignment: {part!r}")
            assignments[am.group(1)] = am.group(2).strip()
        stats = self.catalog.update_where(name, cond, assignments)
        return {"op": "update", "name": name, **stats}

    def _delete(self, stmt: str) -> dict:
        mask = mask_strings(stmt)
        m = re.match(
            rf"\s*DELETE\s+(?:/\*\+\s*(MOR_EQ\s*\(\s*{_IDENT}"
            rf"(?:\s*,\s*{_IDENT})*\s*\)|MOR)\s*\*/\s+)?FROM\s+({_IDENT})"
            rf"(?:\s+WHERE\s+(.*))?$",
            mask, re.I | re.S,
        )
        if not m:
            raise SqlError(
                "expected: DELETE [/*+ MOR */ | /*+ MOR_EQ(key, ...) */] "
                "FROM <name> [WHERE cond]"
            )
        name = m.group(2)
        cond = stmt[m.start(3) : m.end(3)].strip() if m.group(3) else "true"
        hint = (m.group(1) or "").upper()
        if hint.startswith("MOR_EQ"):
            # equality delete (Iceberg v2 content=2 write path): the
            # hint's columns are the key the delete file carries —
            # key-scoped (every pre-delete row sharing a matching key
            # dies), sequence-ordered (later re-appends survive)
            cols = re.findall(_IDENT, m.group(1))[1:]  # drop 'MOR_EQ'
            stats = self.catalog.delete_where(
                name, cond, mode="mor-eq", equality_cols=cols
            )
            return {"op": "delete", "name": name, "mode": "mor-eq", **stats}
        mode = "mor" if hint == "MOR" else "cow"
        stats = self.catalog.delete_where(name, cond, mode=mode)
        return {"op": "delete", "name": name, "mode": mode, **stats}

    def _merge(self, stmt: str) -> dict:
        mask = mask_strings(stmt)
        hm = re.match(
            rf"\s*MERGE\s+INTO\s+({_IDENT})(?:\s+(?:AS\s+)?({_IDENT}))?\s+"
            rf"USING\s+",
            mask, re.I,
        )
        if not hm:
            raise SqlError(
                "expected: MERGE INTO t [alias] USING (<select>)|src [alias] "
                "ON <equi-cond> WHEN ..."
            )
        target = hm.group(1)
        talias = hm.group(2) or target
        pos = hm.end()
        # USING source: balanced-paren subquery (any nesting) or a name
        if mask[pos] == "(":
            depth, j = 0, pos
            while j < len(mask):
                if mask[j] == "(":
                    depth += 1
                elif mask[j] == ")":
                    depth -= 1
                    if depth == 0:
                        break
                j += 1
            if depth != 0:
                raise SqlError("unbalanced parens in MERGE USING subquery")
            using = stmt[pos : j + 1]
            pos = j + 1
        else:
            um = re.match(_IDENT, mask[pos:])
            if not um:
                raise SqlError("MERGE USING needs a subquery or table name")
            using = stmt[pos : pos + um.end()]
            pos += um.end()
        m = re.match(
            rf"(?:\s+(?:AS\s+)?({_IDENT}))?\s+ON\s+(.*?)\s+(WHEN\s+.*)$",
            mask[pos:], re.I | re.S,
        )
        if not m:
            raise SqlError("expected: ... [AS alias] ON <cond> WHEN ...")
        salias = m.group(1) or (using if not using.startswith("(") else "src")
        on_text = stmt[pos + m.start(2) : pos + m.end(2)]
        when_text = stmt[pos + m.start(3) :]
        when_mask = mask[pos + m.start(3) :]

        if using.startswith("("):
            source = self._query(using[1:-1])
        else:
            with TEMP_VIEW_LOCK:
                self.catalog.register_views(names={using})
                source = self.spark.table(using)

        # ON: conjunction of alias-qualified equality predicates on the
        # SAME column name — the catalog merge key contract.
        keys: list[str] = []
        for pred in re.split(r"\bAND\b", on_text, flags=re.I):
            pm = re.match(
                rf"\s*({_IDENT})\s*\.\s*({_IDENT})\s*=\s*"
                rf"({_IDENT})\s*\.\s*({_IDENT})\s*$",
                pred,
            )
            if not pm:
                raise SqlError(
                    f"MERGE ON must be AND-ed alias.col = alias.col "
                    f"equalities, got {pred.strip()!r}"
                )
            pairs = {pm.group(1): pm.group(2), pm.group(3): pm.group(4)}
            if set(pairs) != {talias, salias}:
                raise SqlError(
                    f"MERGE ON predicate {pred.strip()!r} must reference "
                    f"both {talias!r} and {salias!r}"
                )
            if pairs[talias] != pairs[salias]:
                raise SqlError(
                    "MERGE ON columns must have the same name on both "
                    f"sides (got {pairs[talias]!r} = {pairs[salias]!r})"
                )
            keys.append(pairs[talias])

        # WHEN clauses
        qual = {salias: "_s_", talias: ""}
        when_matched: str | dict[str, str] = "update_all"
        when_matched_delete = None
        insert_not_matched = False
        seen_update = seen_delete = False
        clause_pat = re.compile(
            r"WHEN\s+(NOT\s+)?MATCHED(?:\s+AND\s+(.*?))?\s+THEN\s+"
            r"(UPDATE\s+SET\s+\*|UPDATE\s+SET\s+.*?|DELETE|INSERT\s+\*)"
            r"\s*(?=WHEN\s+(?:NOT\s+)?MATCHED|$)",
            re.I | re.S,
        )
        consumed = 0
        for cm in clause_pat.finditer(when_mask):
            consumed = cm.end()
            is_not = bool(cm.group(1))
            cond = (
                when_text[cm.start(2) : cm.end(2)].strip()
                if cm.group(2) else None
            )
            action = when_text[cm.start(3) : cm.end(3)].strip()
            action_kw = action.split()[0].upper()
            if is_not:
                if action_kw != "INSERT":
                    raise SqlError("WHEN NOT MATCHED supports only INSERT *")
                if cond:
                    raise SqlError("WHEN NOT MATCHED AND <cond> not supported")
                insert_not_matched = True
            elif action_kw == "DELETE":
                if seen_delete:
                    raise SqlError("duplicate WHEN MATCHED ... DELETE")
                if seen_update:
                    # SQL MERGE clause order: first matching clause wins,
                    # and the (unconditional) UPDATE already caught every
                    # matched row — a later DELETE can never fire
                    raise SqlError(
                        "WHEN MATCHED ... DELETE after an unconditional "
                        "UPDATE is unreachable — put the DELETE clause first"
                    )
                seen_delete = True
                when_matched_delete = _qualify(cond, qual) if cond else "true"
            elif action_kw == "UPDATE":
                if cond:
                    raise SqlError(
                        "WHEN MATCHED AND <cond> THEN UPDATE not supported "
                        "(conditional update); use WHEN MATCHED ... DELETE "
                        "for conditional removal"
                    )
                if seen_update:
                    raise SqlError("duplicate WHEN MATCHED ... UPDATE")
                seen_update = True
                set_text = re.sub(
                    r"^UPDATE\s+SET\s+", "", action, flags=re.I | re.S
                ).strip()
                if set_text == "*":
                    when_matched = "update_all"
                else:
                    assignments: dict[str, str] = {}
                    for part in _split_top_level(set_text):
                        am = re.match(
                            rf"\s*(?:{talias}\s*\.\s*)?({_IDENT})\s*=\s*(.+)$",
                            part, re.S,
                        )
                        if not am:
                            raise SqlError(f"bad MERGE SET assignment: {part!r}")
                        assignments[am.group(1)] = _qualify(
                            am.group(2).strip(), qual
                        )
                    when_matched = assignments
            else:
                raise SqlError(f"unsupported MERGE action {action!r}")
        if when_text[consumed:].strip():
            raise SqlError(
                f"unparsed MERGE tail: {when_text[consumed:].strip()[:60]!r}"
            )
        if not (seen_update or seen_delete or insert_not_matched):
            raise SqlError("MERGE needs at least one WHEN clause")
        if not seen_update and seen_delete and when_matched_delete == "true":
            # delete-only merge: matched rows all delete, nothing updates
            when_matched = {}
        stats = self.catalog.merge_into(
            target, source, keys,
            when_matched=when_matched,
            when_matched_delete=when_matched_delete,
            insert_not_matched=insert_not_matched,
        )
        return {"op": "merge", "name": target, **stats}

    # -- maintenance --------------------------------------------------------

    def _optimize(self, stmt: str) -> dict:
        m = re.match(
            rf"\s*OPTIMIZE\s+({_IDENT})(?:\s+WHERE\s+(.*?))?"
            rf"(?:\s+ZORDER\s+BY\s+\(?([A-Za-z_0-9, ]+?)\)?)?\s*$",
            stmt, re.I | re.S,
        )
        if not m:
            raise SqlError(
                "expected: OPTIMIZE <name> [WHERE cond] [ZORDER BY (cols)]"
            )
        zorder = (
            [c.strip() for c in m.group(3).split(",")] if m.group(3) else None
        )
        stats = self.catalog.compact(
            m.group(1), where=m.group(2), zorder_by=zorder
        )
        return {"op": "optimize", "name": m.group(1), **stats}

    def _restore(self, stmt: str) -> dict:
        """Delta's ``RESTORE TABLE t TO VERSION AS OF n`` (timestamp
        form resolves like a read's ``as_of``) → catalog rollback — a
        new commit re-pointing at the old snapshot, history intact."""
        m = re.match(
            rf"\s*RESTORE\s+TABLE\s+({_IDENT})\s+TO\s+"
            rf"(VERSION|TIMESTAMP)\s+AS\s+OF\s+(\d+|'[^']*')\s*$",
            mask_strings(stmt), re.I,
        )
        if not m:
            raise SqlError(
                "expected: RESTORE TABLE <name> TO VERSION|TIMESTAMP "
                "AS OF <v>"
            )
        name, kind = m.group(1), m.group(2).upper()
        arg = stmt[m.start(3) : m.end(3)]
        if kind == "VERSION":
            if arg.startswith("'"):
                raise SqlError("RESTORE ... VERSION AS OF takes a number")
            version = int(arg)
        else:
            if not arg.startswith("'"):
                raise SqlError("RESTORE ... TIMESTAMP AS OF takes a quoted "
                               "timestamp")
            # resolve the as-of snapshot, then roll back to its version
            df_version = None
            entries = collect(self.catalog.snapshots(name))
            ts = arg[1:-1]
            for e in sorted(entries, key=lambda r: r["version"]):
                if (
                    not e["expired"]
                    and e["branch"] is None
                    and e["committed_at"] <= ts
                ):
                    df_version = e["version"]
            if df_version is None:
                raise SqlError(f"no snapshot of {name} at or before {ts}")
            version = df_version
        self.catalog.rollback(name, version)
        return {"op": "restore", "name": name, "version": version}

    def _truncate(self, stmt: str) -> dict:
        m = re.match(
            rf"\s*TRUNCATE\s+TABLE\s+({_IDENT})\s*$", stmt, re.I
        )
        if not m:
            raise SqlError("expected: TRUNCATE TABLE <name>")
        name = m.group(1)
        stats = self.catalog.delete_where(name, "true")
        return {"op": "truncate", "name": name, **stats}

    def _vacuum(self, stmt: str) -> dict:
        m = re.match(
            rf"\s*VACUUM\s+({_IDENT})(?:\s+RETAIN\s+(\d+(?:\.\d+)?)\s+HOURS)?"
            rf"(?:\s+(DRY\s+RUN))?\s*$",
            stmt, re.I,
        )
        if not m:
            raise SqlError("expected: VACUUM <name> [RETAIN n HOURS] [DRY RUN]")
        kwargs: dict = {"dry_run": bool(m.group(3))}
        if m.group(2):
            kwargs["older_than_hours"] = float(m.group(2))
        stats = self.catalog.remove_orphan_files(m.group(1), **kwargs)
        return {"op": "vacuum", "name": m.group(1), **stats}

    #: Iceberg-style stored procedures → catalog verbs. Values are
    #: (method, positional parameter names in order).
    _PROCEDURES: dict[str, tuple[str, tuple[str, ...]]] = {
        "expire_snapshots": ("expire_snapshots", ("name",)),
        "rollback": ("rollback", ("name", "version")),
        "publish": ("publish", ("name",)),
        "create_tag": ("create_tag", ("name", "tag")),
        "drop_tag": ("drop_tag", ("name", "tag")),
        "create_branch": ("create_branch", ("name", "branch")),
        "drop_branch": ("drop_branch", ("name", "branch")),
        "fast_forward": ("fast_forward", ("name", "branch")),
        "clone_table": ("clone_table", ("source", "target")),
        "rewrite_position_deletes": ("rewrite_position_deletes", ("name",)),
        "remove_orphan_files": ("remove_orphan_files", ("name",)),
    }

    def _call(self, stmt: str) -> dict:
        m = re.match(
            rf"\s*CALL\s+(?:system\s*\.\s*)?({_IDENT})\s*\((.*)\)\s*$",
            stmt, re.I | re.S,
        )
        if not m:
            raise SqlError("expected: CALL [system.]<procedure>(args)")
        proc = m.group(1).lower()
        if proc not in self._PROCEDURES:
            raise SqlError(
                f"unknown procedure {proc!r}; supported: "
                + ", ".join(sorted(self._PROCEDURES))
            )
        method, positional = self._PROCEDURES[proc]
        args: list[object] = []
        kwargs: dict[str, object] = {}
        arg_text = m.group(2).strip()
        for part in _split_top_level(arg_text) if arg_text else []:
            nm = re.match(rf"\s*({_IDENT})\s*=>\s*(.+)$", part, re.S)
            if nm:
                kwargs[nm.group(1)] = _literal(nm.group(2).strip())
            else:
                args.append(_literal(part))
        # map leading positionals onto their declared names
        if len(args) > len(positional):
            extra, args = args[len(positional):], args[: len(positional)]
            raise SqlError(
                f"{proc} takes {len(positional)} positional args "
                f"({', '.join(positional)}); extra: {extra!r} — "
                "pass options as name => value"
            )
        for pname, val in zip(positional, args):
            kwargs[pname] = val
        result = getattr(self.catalog, method)(**kwargs)
        out = {"op": proc}
        if isinstance(result, dict):
            out.update(result)
        return out


#: statement kinds that only read — the read_only-endpoint gate
QUERY_KINDS = frozenset(
    {"SELECT", "WITH", "TABLE", "VALUES", "DESCRIBE", "DESC", "SHOW", "EXPLAIN"}
)


def is_query(sql: str) -> bool:
    """True when the FIRST statement only reads (no commit)."""
    stmts = split_statements(sql)
    if not stmts:
        return True
    m = re.match(rf"\s*({_IDENT})", stmts[0])
    return bool(m) and m.group(1).upper() in QUERY_KINDS


def _safe(s: str) -> str:
    return re.sub(r"[^A-Za-z0-9]", "_", s)


def _literal(text: str) -> object:
    if text.startswith("'") and text.endswith("'"):
        return text[1:-1].replace("''", "'")
    low = text.lower()
    if low in ("true", "false"):
        return low == "true"
    try:
        return int(text)
    except ValueError:
        pass
    try:
        return float(text)
    except ValueError:
        raise SqlError(f"CALL arguments must be literals, got {text!r}")


def execute_sql(catalog, sql: str) -> DataFrame | dict:
    """One-shot convenience: route one statement (see :class:`LakehouseSql`)."""
    return LakehouseSql(catalog).execute(sql)


def execute_sql_script(catalog, sql: str) -> list[DataFrame | dict]:
    """Run a ``;``-separated script in order."""
    return LakehouseSql(catalog).execute_script(sql)


def result_to_json(result: DataFrame | dict, *, limit: int = 1000) -> list[str]:
    """Serialize an :func:`execute_sql` result for a CLI/endpoint."""
    if isinstance(result, dict):
        return [json.dumps(result, default=str)]
    return result.limit(limit).toJSON().collect()
