"""dbt-style SQL model runner over the versioned catalog.

The reference's entire transform layer is 8 dbt models — SQL files with
``{{ config(...) }}`` headers, ``{{ ref() }}`` / ``{{ source() }}``
references, and ``{% if is_incremental() %}`` watermark blocks —
compiled by dbt and executed on a Spark Thrift Server
(``dbt/models/silver/silver_ecommerce_events.sql:1-18``,
``dbt/dbt_project.yml:24-43``, SURVEY.md §3.2). A migrating user holds
those .sql files; this module runs them directly against the engine:

- the SAME template surface the reference models use: ``config`` keys
  ``materialized`` (``table`` | ``view`` | ``incremental``),
  ``partition_by``, ``incremental_strategy`` (``append`` | ``merge``),
  ``unique_key``; ``ref('m')``; ``source('schema', 'table')``;
  ``this``; ``is_incremental()`` conditional blocks. Unknown template
  constructs raise with the construct named — no silent misrender.
- ``ref()`` builds the dependency DAG; models run in topological order
  (dbt's scheduling contract), cycles raise.
- materializations land as CATALOG commits: ``table`` → versioned
  replace, ``view`` → logical view, ``incremental`` → append or
  MERGE-on-unique-key, so every dbt run is snapshot-isolated and
  time-travelable — stronger than the reference's
  ``insert overwrite``.
- schema tests (``unique`` / ``not_null`` / ``accepted_values`` /
  ``relationships`` — the reference's ``schema.yml`` surface,
  ``dbt/models/gold/schema.yml``) delegate to
  :mod:`~data_lakehouse_spark.operators.quality` and return violation
  counts per test.

Scale note: an incremental model's ``is_incremental()`` predicate is a
high-watermark filter pushed into the parquet scan (the engine's
incremental plans, ``plans/incremental.py``); a full dbt run over
100 TB only reads each source's new span.
"""

from __future__ import annotations

import ast
import os
import re
from dataclasses import dataclass, field

from pyspark.sql import DataFrame

from data_lakehouse_spark.catalog import TEMP_VIEW_LOCK


class ModelError(ValueError):
    """A model failed to parse, render, or materialize."""


_REF = re.compile(r"\{\{\s*ref\(\s*'([^']+)'\s*\)\s*\}\}")
_SOURCE = re.compile(r"\{\{\s*source\(\s*'([^']+)'\s*,\s*'([^']+)'\s*\)\s*\}\}")
_THIS = re.compile(r"\{\{\s*this\s*\}\}")
_CONFIG = re.compile(r"\{\{\s*config\s*\((.*?)\)\s*\}\}", re.S)
_INCR_BLOCK = re.compile(
    r"\{%\s*if\s+is_incremental\(\)\s*%\}(.*?)\{%\s*endif\s*%\}", re.S
)


@dataclass
class ModelConfig:
    materialized: str = "view"
    partition_by: list[str] | None = None
    incremental_strategy: str = "append"
    unique_key: list[str] | None = None
    tblproperties: dict[str, str] | None = None

    updated_at: str | None = None
    check_cols: list[str] | None = None

    KNOWN = (
        "materialized", "partition_by", "incremental_strategy",
        "unique_key", "tblproperties", "file_format", "schema", "alias",
        "updated_at", "check_cols", "strategy",
    )


@dataclass
class Model:
    name: str
    raw_sql: str
    config: ModelConfig = field(default_factory=ModelConfig)
    deps: list[str] = field(default_factory=list)
    sources: list[tuple[str, str]] = field(default_factory=list)


def parse_model(name: str, raw_sql: str) -> Model:
    """Extract config + dependency references; validate the template
    surface (anything outside it raises, naming the construct)."""
    cfg = ModelConfig()
    cm = _CONFIG.search(raw_sql)
    if cm:
        try:
            call = ast.parse(f"f({cm.group(1)})", mode="eval").body
            kwargs = {
                k.arg: ast.literal_eval(k.value) for k in call.keywords
            }
        except (SyntaxError, ValueError) as e:
            raise ModelError(f"model {name}: unparseable config(): {e}")
        for k, v in kwargs.items():
            if k not in ModelConfig.KNOWN:
                raise ModelError(f"model {name}: unknown config key {k!r}")
        mat = kwargs.get("materialized", "view")
        if mat not in ("table", "view", "incremental", "snapshot"):
            raise ModelError(
                f"model {name}: unsupported materialized={mat!r}"
            )
        pb = kwargs.get("partition_by")
        uk = kwargs.get("unique_key")
        cc = kwargs.get("check_cols")
        cfg = ModelConfig(
            materialized=mat,
            partition_by=[pb] if isinstance(pb, str) else pb,
            incremental_strategy=kwargs.get("incremental_strategy", "append"),
            unique_key=[uk] if isinstance(uk, str) else uk,
            tblproperties=kwargs.get("tblproperties"),
            updated_at=kwargs.get("updated_at"),
            check_cols=[cc] if isinstance(cc, str) else cc,
        )
        if cfg.incremental_strategy not in ("append", "merge"):
            raise ModelError(
                f"model {name}: unsupported incremental_strategy="
                f"{cfg.incremental_strategy!r} (append|merge)"
            )
        if cfg.incremental_strategy == "merge" and not cfg.unique_key:
            raise ModelError(
                f"model {name}: merge strategy requires unique_key"
            )
        if mat == "snapshot" and not (cfg.unique_key and cfg.updated_at):
            raise ModelError(
                f"model {name}: snapshot requires unique_key and updated_at"
            )
    deps = _REF.findall(raw_sql)
    sources = _SOURCE.findall(raw_sql)
    # reject template constructs we would otherwise silently mis-render
    residue = _CONFIG.sub("", raw_sql)
    residue = _INCR_BLOCK.sub("", residue)
    for pat in (_REF, _SOURCE, _THIS):
        residue = pat.sub("x", residue)
    leftover = re.search(r"\{\{.*?\}\}|\{%.*?%\}", residue, re.S)
    if leftover:
        raise ModelError(
            f"model {name}: unsupported template construct "
            f"{leftover.group(0)[:60]!r}"
        )
    return Model(name=name, raw_sql=raw_sql, config=cfg, deps=deps,
                 sources=sources)


class ModelRunner:
    """Load models, resolve the DAG, materialize into the catalog.

    ``sources`` maps dbt ``(source_schema, table)`` pairs to catalog
    table names; a missing mapping falls back to the bare table name
    (the common case where the bronze table is already a catalog
    table of the same name).
    """

    def __init__(
        self,
        catalog,
        *,
        sources: dict[tuple[str, str], str] | None = None,
    ) -> None:
        self.catalog = catalog
        self.sources = dict(sources or {})
        self.models: dict[str, Model] = {}

    # -- loading ------------------------------------------------------------

    def add_model(self, name: str, raw_sql: str) -> Model:
        m = parse_model(name, raw_sql)
        self.models[name] = m
        return m

    def add_models_dir(self, path: str) -> list[str]:
        """Load every ``*.sql`` under ``path`` (recursive; model name =
        file stem, the dbt convention)."""
        loaded = []
        for dp, _, fs in sorted(os.walk(path)):
            for fname in sorted(fs):
                if not fname.endswith(".sql"):
                    continue
                name = fname[:-4]
                if name in self.models:
                    raise ModelError(f"duplicate model name {name}")
                with open(os.path.join(dp, fname)) as f:
                    self.add_model(name, f.read())
                loaded.append(name)
        return loaded

    def seed(self, path: str, *, full_refresh: bool = False) -> dict[str, dict]:
        """dbt seed: load every ``*.csv`` under ``path`` as a catalog
        table named by file stem (header row, inferred types — seeds
        are small lookup data by contract, so the inference pass is
        cheap). Existing seed tables are replaced only with
        ``full_refresh=True`` (dbt's ``--full-refresh`` flag)."""
        from data_lakehouse_spark.sources.readers import read_csv

        stats: dict[str, dict] = {}
        for dp, _, fs in sorted(os.walk(path)):
            for fname in sorted(fs):
                if not fname.endswith(".csv"):
                    continue
                name = fname[:-4]
                exists = self.catalog.table_exists(name)
                if exists and not full_refresh:
                    stats[name] = {"seeded": False, "skipped": "exists"}
                    continue
                df = read_csv(
                    self.catalog.spark, os.path.join(dp, fname)
                )
                self.catalog.create_table(
                    name, df, mode="replace" if exists else "error"
                )
                stats[name] = {
                    "seeded": True,
                    "rows": self.catalog.row_count(name),
                }
        if not stats:
            raise ModelError(f"no .csv seeds under {path}")
        return stats

    # -- rendering ----------------------------------------------------------

    def _resolve_source(self, schema: str, table: str) -> str:
        return self.sources.get((schema, table), table)

    def render(self, name: str, *, is_incremental: bool) -> str:
        """Compile one model to executable SQL (refs → catalog names,
        incremental block kept or dropped)."""
        m = self.models[name]
        sql = _CONFIG.sub("", m.raw_sql)
        sql = _INCR_BLOCK.sub(
            (lambda mm: mm.group(1)) if is_incremental else "", sql
        )
        sql = _REF.sub(lambda mm: mm.group(1), sql)
        sql = _SOURCE.sub(
            lambda mm: self._resolve_source(mm.group(1), mm.group(2)), sql
        )
        sql = _THIS.sub(name, sql)
        return sql.strip()

    # -- scheduling ---------------------------------------------------------

    def _topo_order(self, selected: list[str]) -> list[str]:
        """Selected models plus their in-graph ancestors, dependency
        order; cycles raise naming the cycle members."""
        need: set[str] = set()

        def visit(n: str) -> None:
            if n in need or n not in self.models:
                return
            need.add(n)
            for d in self.models[n].deps:
                visit(d)

        for n in selected:
            if n not in self.models:
                raise ModelError(f"unknown model {n}")
            visit(n)

        order: list[str] = []
        state: dict[str, int] = {}  # 1=visiting, 2=done

        def dfs(n: str) -> None:
            if state.get(n) == 2:
                return
            if state.get(n) == 1:
                raise ModelError(f"ref cycle through {n!r}")
            state[n] = 1
            for d in self.models[n].deps:
                if d in need:
                    dfs(d)
            state[n] = 2
            order.append(n)

        for n in sorted(need):
            dfs(n)
        return order

    # -- materialization ----------------------------------------------------

    def run(
        self,
        select: list[str] | None = None,
        *,
        full_refresh: bool = False,
        atomic: bool = False,
    ) -> dict[str, dict]:
        """dbt run: materialize (selected) models in DAG order.
        Returns per-model stats {materialized, rows|op}.

        ``atomic=True`` publishes EVERY selected model's new snapshot
        in one multi-table transaction: a dashboard refreshing mid-run
        never sees new silver joined against stale gold (dbt itself
        cannot offer this — each model is its own commit). Within the
        run, downstream models read their upstreams' STAGED snapshots
        (read-your-own-writes via version-pinned temp views); outside
        readers keep the previous snapshots until the single commit
        point. An error anywhere aborts every staged model. Supported
        for table and incremental-append materializations (views are
        metadata and apply immediately; snapshot/merge models rewrite
        in place and must run non-atomically — same limits as
        Iceberg's WAP)."""
        selected = select or sorted(self.models)
        stats: dict[str, dict] = {}
        if not atomic:
            for name in self._topo_order(selected):
                stats[name] = self._run_one(name, full_refresh=full_refresh)
            return stats
        self._staged_reads: dict[str, int] = {}
        try:
            with self.catalog.transaction() as txn:
                for name in self._topo_order(selected):
                    stats[name] = self._run_one_staged(
                        name, txn, full_refresh=full_refresh
                    )
        finally:
            self._staged_reads = {}
        return stats

    def run_parallel(
        self,
        select: list[str] | None = None,
        *,
        threads: int = 4,
        full_refresh: bool = False,
        retries: int = 0,
        execution_timeout: float | None = None,
    ) -> dict[str, dict]:
        """dbt ``threads: N`` semantics: independent models materialize
        CONCURRENTLY on the shared session while ``ref()`` edges still
        gate dependents — the orchestration runner
        (:mod:`data_lakehouse_spark.orchestrate`) supplies fan-out,
        per-model retries, and execution timeouts (the reference pins
        ``threads: 1`` in dbt/profiles.yml:11; real deployments raise
        it, and per-table catalog commits are already serialized by the
        commit lock, so concurrent independent models are safe).
        Atomic (single-transaction) runs stay serial — staged
        read-your-own-writes views are session-global, so parallel
        staged materialization could leak across models; use
        ``run(atomic=True)`` for that mode.

        Returns per-model stats like :meth:`run`; raises on any failed
        model after the whole graph settles (so one failure doesn't
        abandon unrelated in-flight models mid-write)."""
        from data_lakehouse_spark.orchestrate import Dag

        order = self._topo_order(select or sorted(self.models))
        dag = Dag("models", max_workers=max(1, int(threads)))
        for name in order:
            dag.task(
                name,
                (lambda n=name: self._run_one(n, full_refresh=full_refresh)),
                retries=retries,
                execution_timeout=execution_timeout,
            )
        for name in order:
            for d in self.models[name].deps:
                if d in dag.tasks:
                    dag.tasks[d] >> dag.tasks[name]
        report = dag.run(self.catalog.spark)
        failed = sorted(
            k
            for k, t in report["tasks"].items()
            if t["state"] != "success"
        )
        if failed:
            raise ModelError(
                f"models failed: "
                f"{ {k: report['tasks'][k]['error'] for k in failed} }"
            )
        return {k: t["result"] for k, t in report["tasks"].items()}

    def _query(self, sql: str) -> DataFrame:
        # the plan binds the views registered here (TEMP_VIEW_LOCK)
        with TEMP_VIEW_LOCK:
            self.catalog.register_views()
            # atomic runs: downstream models read upstream STAGED
            # snapshots
            for name, v in getattr(self, "_staged_reads", {}).items():
                self.catalog.read(name, version=v).createOrReplaceTempView(
                    name
                )
            return self.catalog.spark.sql(sql)

    def _run_one(self, name: str, *, full_refresh: bool) -> dict:
        m = self.models[name]
        cfg = m.config
        if cfg.materialized == "view":
            sql = self.render(name, is_incremental=False)
            self._query(sql)  # validate before persisting
            self.catalog.create_view(name, sql, replace=True)
            return {"materialized": "view"}
        if cfg.materialized == "snapshot":
            return self._run_snapshot(name, cfg)
        exists = self.catalog.table_exists(name)
        if cfg.materialized == "table" or not exists or full_refresh:
            df = self._query(self.render(name, is_incremental=False))
            self.catalog.create_table(
                name, df,
                partition_by=cfg.partition_by,
                properties=cfg.tblproperties,
                mode="replace" if (exists or full_refresh) else "error",
            )
            return {
                "materialized": cfg.materialized,
                "rows": self.catalog.row_count(name),
                "full_refresh": exists or full_refresh,
            }
        # incremental on an existing table
        df = self._query(self.render(name, is_incremental=True))
        if cfg.incremental_strategy == "merge":
            out = self.catalog.merge_into(
                name, df, cfg.unique_key,
                when_matched="update_all", insert_not_matched=True,
            )
            return {"materialized": "incremental", "strategy": "merge",
                    **{k: v for k, v in out.items()
                       if isinstance(v, (int, str))}}
        before = self.catalog.row_count(name)
        self.catalog.append(name, df)
        return {
            "materialized": "incremental", "strategy": "append",
            "rows_appended": self.catalog.row_count(name) - before,
        }

    def _run_one_staged(self, name: str, txn, *, full_refresh: bool) -> dict:
        """One model inside an atomic run: stage instead of publish."""
        m = self.models[name]
        cfg = m.config
        if cfg.materialized == "view":
            sql = self.render(name, is_incremental=False)
            self._query(sql)
            self.catalog.create_view(name, sql, replace=True)
            return {"materialized": "view"}
        if cfg.materialized == "snapshot" or (
            cfg.materialized == "incremental"
            and cfg.incremental_strategy == "merge"
            and self.catalog.table_exists(name)
        ):
            raise ModelError(
                f"{name}: {cfg.materialized}/"
                f"{cfg.incremental_strategy} models rewrite in place and "
                "cannot be staged — run them with atomic=False"
            )
        exists = self.catalog.table_exists(name)
        if cfg.materialized == "table" or not exists or full_refresh:
            df = self._query(self.render(name, is_incremental=False))
            if not exists:
                # schema-only create (visible empty is the one permitted
                # torn state for brand-new tables); data lands staged
                self.catalog.create_table(
                    name, df.limit(0),
                    partition_by=cfg.partition_by,
                    properties=cfg.tblproperties,
                )
            txn.overwrite(name, df)
            staged_v = txn._staged[name][0]
            self._staged_reads[name] = staged_v
            return {
                "materialized": cfg.materialized,
                "rows": self.catalog.row_count(name, version=staged_v),
                "full_refresh": exists or full_refresh,
                "staged_version": staged_v,
            }
        df = self._query(self.render(name, is_incremental=True))
        # before staging: the published head, which is also the main
        # head (txn.append refuses another writer's staged head)
        before = self.catalog.row_count(name)
        txn.append(name, df)
        staged_v = txn._staged[name][0]
        self._staged_reads[name] = staged_v
        return {
            "materialized": "incremental", "strategy": "append",
            "rows_appended":
                self.catalog.row_count(name, version=staged_v) - before,
            "staged_version": staged_v,
        }

    def _run_snapshot(self, name: str, cfg: ModelConfig) -> dict:
        """dbt snapshot (Kimball SCD2): the rendered query is the
        CURRENT state of the entity; each run closes changed keys'
        validity intervals and opens new current rows
        (:func:`~data_lakehouse_spark.plans.incremental.scd2_merge`).
        Re-running an unchanged source is a no-op (idempotent)."""
        from pyspark.sql import functions as F
        from pyspark.sql import types as T

        from data_lakehouse_spark.plans.incremental import scd2_merge

        updates = self._query(self.render(name, is_incremental=False))
        keys = cfg.unique_key
        ts_col = cfg.updated_at
        missing = {*keys, ts_col} - set(updates.columns)
        if missing:
            raise ModelError(
                f"snapshot {name}: query lacks columns {sorted(missing)}"
            )
        tracked = cfg.check_cols or [
            c for c in updates.columns if c not in (*keys, ts_col)
        ]
        if not tracked:
            raise ModelError(
                f"snapshot {name}: no tracked columns besides keys"
            )
        if self.catalog.table_exists(name):
            dim = self.catalog.read(name)
        else:
            ts_type = updates.schema[ts_col].dataType
            # the dimension persists keys + tracked + validity columns
            # (scd2_merge's contract); untracked attributes are not
            # stored — list them in check_cols to version them
            dim_schema = T.StructType(
                [updates.schema[c] for c in (*keys, *tracked)]
                + [
                    T.StructField("valid_from", ts_type),
                    T.StructField("valid_to", ts_type),
                    T.StructField("is_current", T.BooleanType()),
                ]
            )
            dim = self.catalog.spark.createDataFrame([], dim_schema)
        new_dim = scd2_merge(
            dim, updates, keys=keys, tracked=tracked, ts_col=ts_col
        )
        if self.catalog.table_exists(name):
            self.catalog.overwrite(name, new_dim)
        else:
            self.catalog.create_table(
                name, new_dim, partition_by=cfg.partition_by,
                properties=cfg.tblproperties,
            )
        n_current = (
            self.catalog.read(name).filter(F.col("is_current")).count()
        )
        return {
            "materialized": "snapshot",
            "rows": self.catalog.row_count(name),
            "current_rows": n_current,
        }

    # -- schema tests --------------------------------------------------------

    def test(self, spec: dict[str, dict[str, list]]) -> dict[str, int]:
        """dbt test: ``{model: {column: [test, ...]}}`` where a test is
        ``"unique"`` | ``"not_null"`` |
        ``{"accepted_values": [...]}`` |
        ``{"relationships": {"to": model_or_table, "field": col}}``.
        Returns ``{"model.column.test": violation_count}`` — all zeros
        is a pass, matching the reference's schema.yml data_tests."""
        from data_lakehouse_spark.operators import quality

        def read_any(n: str) -> DataFrame:
            if self.catalog.table_exists(n):
                return self.catalog.read(n)
            return self.catalog.read_view(n)

        results: dict[str, int] = {}
        for model, cols in spec.items():
            df = read_any(model)
            for col, tests in cols.items():
                for t in tests:
                    if t == "unique":
                        results[f"{model}.{col}.unique"] = (
                            quality.check_unique(df, col)
                        )
                    elif t == "not_null":
                        results[f"{model}.{col}.not_null"] = (
                            quality.check_not_null(df, col)
                        )
                    elif isinstance(t, dict) and "accepted_values" in t:
                        results[f"{model}.{col}.accepted_values"] = (
                            quality.check_accepted_values(
                                df, col, t["accepted_values"]
                            )
                        )
                    elif isinstance(t, dict) and "relationships" in t:
                        rel = t["relationships"]
                        results[f"{model}.{col}.relationships"] = (
                            quality.check_relationships(
                                df, col, read_any(rel["to"]), rel["field"]
                            )
                        )
                    else:
                        raise ModelError(
                            f"unknown test {t!r} on {model}.{col}"
                        )
        return results


class WireModelRunner(ModelRunner):
    """dbt-ADAPTER-shaped execution: identical model parsing, rendering
    and DAG scheduling to :class:`ModelRunner`, but every
    materialization is a SQL STATEMENT executed through a PEP-249
    connection (:mod:`data_lakehouse_spark.client`) against a live
    :class:`~data_lakehouse_spark.server.SqlEndpoint` — exactly the
    role a dbt adapter's ConnectionManager plays over its wire. The
    reference runs dbt-spark over Thrift (``dbt/profiles.yml:5-9``);
    this container ships neither dbt-core nor a Thrift stack, so the
    adapter contract is proven end-to-end at the SQL/wire layer
    instead: the reference's own model files compile to the same
    rendered SQL and run as CREATE VIEW / CTAS / INSERT INTO / MERGE
    INTO statements over HTTP, producing marts that hash-match the
    in-process runner (tests/test_reference_models_drop_in.py).

    Statement mapping (the adapter's materialization macros):

    - ``materialized='view'``      → ``CREATE OR REPLACE VIEW``
    - ``'table'`` / first build /
      ``--full-refresh``           → ``CREATE OR REPLACE TABLE …
      [PARTITIONED BY][TBLPROPERTIES] AS`` (CTAS)
    - incremental ``append``       → ``INSERT INTO <name> <select>``
    - incremental ``merge``        → ``MERGE INTO … USING (<select>)
      ON <unique_key> WHEN MATCHED UPDATE SET * WHEN NOT MATCHED
      INSERT *``
    - ``snapshot``                 → refused (SCD2 rewrites in place;
      run those in-process)
    """

    #: no catalog handle over the wire — catalog-backed ModelRunner
    #: APIs refuse with a clear error instead of an AttributeError
    catalog = None

    def __init__(self, conn, *, sources=None) -> None:
        self.conn = conn
        self.sources = dict(sources or {})
        self.models: dict[str, Model] = {}

    def _wire_unsupported(self, what: str):
        raise ModelError(
            f"{what} is not supported over the wire — use the "
            "in-process ModelRunner (it needs direct catalog access)"
        )

    def seed(self, path, *, full_refresh: bool = False):  # noqa: D102
        self._wire_unsupported("seed")

    def test(self, spec):  # noqa: D102
        self._wire_unsupported("test")

    def run_parallel(self, *a, **kw):  # noqa: D102
        self._wire_unsupported("run_parallel")

    @staticmethod
    def _ident(name: str, what: str) -> str:
        """Validate a name interpolated into generated SQL as a bare
        identifier (unique_key / partition_by columns). A hostile or
        typo'd model config must fail loudly here, not alter the
        statement it is spliced into."""
        import re

        if not re.fullmatch(r"[A-Za-z_][A-Za-z_0-9]*", name or ""):
            raise ModelError(
                f"{what} {name!r} is not a valid SQL identifier"
            )
        return name

    @staticmethod
    def _quote(v) -> str:
        """Single-quoted SQL string literal with embedded quotes
        doubled — tblproperties keys/values are user-controlled."""
        return "'" + str(v).replace("'", "''") + "'"

    def _existing_tables(self) -> set[str]:
        cur = self.conn.cursor()
        cur.execute("SHOW TABLES")
        name_idx = [d[0] for d in cur.description].index("name")
        try:
            kind_idx = [d[0] for d in cur.description].index("kind")
        except ValueError:
            kind_idx = None
        return {
            r[name_idx]
            for r in cur.fetchall()
            if kind_idx is None or r[kind_idx] == "table"
        }

    def run(
        self, select: list[str] | None = None, *, full_refresh: bool = False
    ) -> dict[str, dict]:
        order = self._topo_order(sorted(select or self.models))
        # validate BEFORE executing anything: a mid-run refusal would
        # leave the endpoint's catalog partially mutated
        for name in order:
            if self.models[name].config.materialized == "snapshot":
                raise ModelError(
                    f"{name}: snapshot models rewrite in place and are "
                    "not wire-runnable — run them with the in-process "
                    "ModelRunner"
                )
        existing = self._existing_tables()
        cur = self.conn.cursor()
        stats: dict[str, dict] = {}
        for name in order:
            cfg = self.models[name].config
            if cfg.materialized == "view":
                cur.execute(
                    f"CREATE OR REPLACE VIEW {name} AS\n"
                    + self.render(name, is_incremental=False)
                )
                stats[name] = {"materialized": "view"}
                continue
            exists = name in existing
            if cfg.materialized == "table" or not exists or full_refresh:
                clauses = ""
                if cfg.partition_by:
                    cols = ", ".join(
                        self._ident(c, f"{name}: partition_by column")
                        for c in cfg.partition_by
                    )
                    clauses += f"\nPARTITIONED BY ({cols})"
                if cfg.tblproperties:
                    kv = ", ".join(
                        f"{self._quote(k)} = {self._quote(v)}"
                        for k, v in sorted(cfg.tblproperties.items())
                    )
                    clauses += f"\nTBLPROPERTIES ({kv})"
                cur.execute(
                    f"CREATE OR REPLACE TABLE {name}{clauses} AS\n"
                    + self.render(name, is_incremental=False)
                )
                stats[name] = {
                    "materialized": cfg.materialized,
                    "full_refresh": exists or full_refresh,
                }
            elif cfg.incremental_strategy == "merge":
                on = " AND ".join(
                    "t.{0} = s.{0}".format(
                        self._ident(k, f"{name}: unique_key column")
                    )
                    for k in cfg.unique_key
                )
                cur.execute(
                    f"MERGE INTO {name} t USING (\n"
                    + self.render(name, is_incremental=True)
                    + f"\n) s ON {on}\n"
                    "WHEN MATCHED THEN UPDATE SET *\n"
                    "WHEN NOT MATCHED THEN INSERT *"
                )
                stats[name] = {
                    "materialized": "incremental", "strategy": "merge",
                }
            else:
                cur.execute(
                    f"INSERT INTO {name}\n"
                    + self.render(name, is_incremental=True)
                )
                stats[name] = {
                    "materialized": "incremental",
                    "strategy": "append",
                    "rows_appended": cur.rowcount,
                }
            existing.add(name)
        return stats
