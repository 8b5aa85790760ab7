"""Streaming SOURCE over the lakehouse catalog — the Delta CDF /
``spark.readStream.format("delta")`` analog for this engine's tables
(reference streams its bronze tables out of genuine open-format
storage; this closes the same loop for the catalog:
``stream → catalog sink → catalog SOURCE → derived table``).

Built on the PySpark 4 Python Data Source API
(``pyspark.sql.datasource``): offsets are catalog snapshot VERSIONS
(the manifest is the write-ahead log, so the offset log and the table
log can never disagree about what "new data" means), each microbatch
is the file-set diff between two published snapshots, and every new
parquet FILE becomes one ``InputPartition`` — reads scale out across
executors and replay is deterministic because manifest entries are
immutable once committed (Spark re-runs ``partitions(start, end)`` on
recovery and must see the same files: guaranteed by the append-only
manifest, which is what makes the source exactly-once under the
engine's checkpointed offset log).

Scope is the streaming-shaped subset, with the same contract Delta's
source has:

- **appends** stream as ``_change_type='insert'`` rows;
- a **COW rewrite** in the span (update/delete/compact rewrote dirs)
  fails the query unless ``ignoreChanges=true`` — then the NEW dirs'
  rows are emitted (carried rows re-emitted, exactly Delta's
  documented ``ignoreChanges`` semantics);
- a **MOR delete** in the span fails unless ``ignoreDeletes=true``
  (skip it) or ``readChangeFeed=true`` (CDF mode: the deleted row
  images stream as ``_change_type='delete'`` with the delete commit's
  version — Delta's ``readChangeFeed`` readStream analog). An
  **equality delete** (``upsert_cdc``, ``mode='mor-eq'``) is skipped
  under ``ignoreDeletes=true`` (the upsert's new images still stream as
  inserts); ``readChangeFeed=true`` refuses it, since imaging a key
  delete takes a join (``catalog.table_changes`` is the batch path).

The reader is Arrow end-to-end: each partition reads its file with
``pyarrow`` and yields ``RecordBatch``es cast to the query schema
(schema drift projects old files onto the query-start schema with
null backfill; hive partition values are restored from the directory
layout per the declared column type).
"""

from __future__ import annotations

import datetime
import json
import os
import re
from typing import Iterator, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.datasource import (
    DataSource,
    DataSourceStreamReader,
    InputPartition,
)
from pyspark.sql.types import StructType

from data_lakehouse_spark.catalog import (
    Catalog,
    _partition_values,
    _uri_path,
    snapshot_files,
)

__all__ = [
    "LakehouseStreamDataSource",
    "register_lakehouse_source",
    "stream_table",
]

_META_COLS = [
    ("_change_type", "string"),
    ("_commit_version", "long"),
]

#: "all files of the version consumed" sentinel for the offset's
#: "file" field — a plain int so offsets stay JSON-primitive, far
#: above any real per-version file count
_ALL_FILES = 1 << 60


# -- session-free manifest walk (runs on the driver-side reader; the
# -- same JSON the catalog writes atomically via os.replace) ----------


def _load_manifest(warehouse: str, table: str) -> list[dict]:
    path = os.path.join(warehouse, table, "_manifest.json")
    if not os.path.exists(path):
        raise ValueError(f"table {table} does not exist under {warehouse}")
    with open(path) as f:
        return json.load(f)


def _published_main(entries: list[dict]) -> list[dict]:
    return [
        e
        for e in entries
        if "branch" not in e and not e.get("staged")
    ]


class _FilePartition(InputPartition):
    def __init__(
        self, file: str, commit_version: int, part_values: dict
    ) -> None:
        self.file = file
        self.commit_version = commit_version
        self.part_values = part_values


class _DeletesPartition(InputPartition):
    """One MOR position-delete file whose referenced row images are
    emitted as ``_change_type='delete'`` (readChangeFeed mode)."""

    def __init__(
        self, pos_file: str, commit_version: int, part_cols: list[str]
    ) -> None:
        self.pos_file = pos_file
        self.commit_version = commit_version
        self.part_cols = part_cols


class LakehouseStreamReader(DataSourceStreamReader):
    def __init__(self, schema: StructType, options: dict) -> None:
        self.warehouse = options.get("path") or options.get("warehouse")
        if not self.warehouse:
            raise ValueError(
                "lakehouse source requires .option('path', <warehouse>) "
                "(or 'warehouse')"
            )
        self.table = options.get("table")
        if not self.table:
            raise ValueError(
                "lakehouse source requires .option('table', <name>)"
            )
        self.schema = schema
        self.starting = str(options.get("startingversion", "0"))
        self.ignore_deletes = (
            str(options.get("ignoredeletes", "false")).lower() == "true"
        )
        self.ignore_changes = (
            str(options.get("ignorechanges", "false")).lower() == "true"
        )
        # CDF mode: MOR deletes stream as _change_type='delete' row
        # images instead of failing the query (appends are 'insert'
        # either way) — the Delta readChangeFeed analog. COW rewrites
        # still refuse: reconstructing their diff needs a distributed
        # exceptAll (catalog.table_changes is the batch path for that).
        self.read_changefeed = (
            str(options.get("readchangefeed", "false")).lower() == "true"
        )
        # admission control: bound how many snapshots (and/or how many
        # FILES — one append version can carry thousands of files at
        # scale, and a version-granular cap would still fold it as one
        # giant microbatch) a single trigger ingests. Offsets are
        # {"version": v, "file": k} = "consumed the first k files of
        # version v's new-file list"; a missing "file" key means v is
        # fully consumed (the version-granular form, still accepted
        # from old checkpoints).
        mv = options.get("maxversionspertrigger")
        self.max_versions = int(mv) if mv is not None else None
        mf = options.get("maxfilespertrigger")
        self.max_files = int(mf) if mf is not None else None
        self.table_path = os.path.join(self.warehouse, self.table)

    # -- offsets ------------------------------------------------------

    def initialOffset(self) -> dict:
        return {"version": self._initial_version()}

    def _initial_version(self) -> int:
        if self.starting == "latest":
            entries = _published_main(
                _load_manifest(self.warehouse, self.table)
            )
            return entries[-1]["version"] if entries else -1
        return int(self.starting) - 1

    @staticmethod
    def _tup(offset: dict) -> tuple:
        """Offset dict -> orderable (version, files_consumed); a
        missing "file" key means the version is fully consumed."""
        return (
            int(offset["version"]),
            offset.get("file", _ALL_FILES),
        )

    def _version_units(self, entries: list[dict], after_v: int):
        """Yield (entry, new_dirs) per published version, prev-diffed —
        listing work for versions at or before ``after_v`` is skipped
        (their files are already consumed), dir-diff bookkeeping isn't."""
        prev = None
        for e in entries:
            prev_dirs = set(prev["data_dirs"]) if prev else set()
            if e["version"] >= after_v:
                yield e, [
                    d for d in e["data_dirs"] if d not in prev_dirs
                ], prev
            prev = e

    def latestOffset(self) -> dict:
        entries = _published_main(_load_manifest(self.warehouse, self.table))
        head = entries[-1]["version"] if entries else -1
        if self.max_versions is None and self.max_files is None:
            return {"version": head}
        # admission control: Spark hands the returned offset straight
        # to partitions() as `end`, so capping here IS the batch cap.
        # The cursor self-heals: seeded from startingVersion on first
        # use (the planning and execution readers may be separate
        # processes, so initialOffset's instance isn't guaranteed to
        # be this one) and re-synced from the REAL offsets in
        # partitions() — after a checkpoint restart it converges
        # within one empty batch.
        cur = getattr(self, "_cursor", None)
        if cur is None:
            cur = (self._initial_version(), _ALL_FILES)
        cv, ck = cur
        out_v, out_k = cv, ck
        files_left = (
            self.max_files if self.max_files is not None else _ALL_FILES
        )
        versions_left = (
            self.max_versions if self.max_versions is not None else _ALL_FILES
        )
        for e, new_dirs, _prev in self._version_units(entries, cv):
            v = e["version"]
            if files_left <= 0 or versions_left <= 0:
                break
            n_files = len(snapshot_files(self.table_path, sorted(new_dirs)))
            done = min(ck, n_files) if v == cv else 0
            avail = n_files - done
            if v == cv and avail <= 0:
                out_v, out_k = v, n_files
                continue
            take = min(avail, files_left)
            out_v, out_k = v, done + take
            files_left -= take
            if take < avail:
                break  # budget exhausted mid-version
            versions_left -= 1
        self._cursor = (out_v, out_k)
        return {"version": out_v, "file": out_k}

    # -- planning -----------------------------------------------------

    def partitions(
        self, start: dict, end: dict
    ) -> Sequence[InputPartition]:
        (sv, sk), (ev, ek) = self._tup(start), self._tup(end)
        cur = getattr(self, "_cursor", None)
        self._cursor = max(
            [(sv, sk), (ev, ek)] + ([cur] if cur is not None else [])
        )
        if (ev, ek) <= (sv, sk):
            return []
        entries = _published_main(_load_manifest(self.warehouse, self.table))
        parts: list[InputPartition] = []
        for e, new_dirs, prev in self._version_units(entries, sv):
            v = e["version"]
            if v > ev:
                break
            lo = sk if v == sv else 0
            if v == sv and sk == _ALL_FILES:
                continue  # start version already fully consumed
            prev_dirs = set(prev["data_dirs"]) if prev else set()
            prev_dd = {
                Catalog._dd_name(d) for d in (prev or {}).get("delete_dirs") or []
            }
            removed = prev_dirs - set(e["data_dirs"])
            # positional dirs are names; equality deletes are records
            pos_new, eq_new = Catalog._dd_split(
                [
                    d
                    for d in e.get("delete_dirs") or []
                    if Catalog._dd_name(d) not in prev_dd
                ]
            )
            new_dd = set(pos_new)
            if eq_new and self.read_changefeed:
                # an equality delete suppresses rows by key: its row
                # images need a join against the table, which the
                # batch change feed does and a per-file stream cannot
                raise ValueError(
                    f"lakehouse stream of {self.table}: version "
                    f"{v} committed equality deletes (upsert_cdc or "
                    "delete_where(mode='mor-eq')), which the streamed "
                    "change feed cannot image; read them batch-wise "
                    "with catalog.table_changes."
                )
            if removed and not self.ignore_changes:
                raise ValueError(
                    f"lakehouse stream of {self.table}: version "
                    f"{v} rewrote data (update/delete/"
                    "compact). Streaming a rewritten table re-emits "
                    "carried rows; opt in with "
                    ".option('ignoreChanges','true') or stream the "
                    "change feed batch-wise (catalog.table_changes)."
                )
            if new_dd and self.read_changefeed:
                # CDF: the version's position-delete files become
                # delete-image partitions, emitted exactly once — in
                # the FIRST batch that covers the version (v > sv; a
                # file-granular continuation batch re-enters with
                # v == sv and must not re-emit them)
                if v > sv:
                    part_cols = list(e.get("partition_by") or [])
                    for f in snapshot_files(self.table_path, sorted(new_dd)):
                        parts.append(_DeletesPartition(f.path, v, part_cols))
            elif (new_dd or eq_new) and not self.ignore_deletes:
                raise ValueError(
                    f"lakehouse stream of {self.table}: version "
                    f"{v} committed MOR deletes. Deletes "
                    "cannot be retracted from a stream; opt in with "
                    ".option('ignoreDeletes','true') to skip them "
                    "(or .option('readChangeFeed','true') to stream "
                    "them as delete row images)."
                )
            # expire_snapshots may have reclaimed a span version's dirs
            # before the stream read them (an expired version's dirs
            # survive only while a RETAINED snapshot still carries
            # them). Silently skipping would LOSE rows, so fail loudly
            # — retention must outlive consumer lag, the same contract
            # Delta VACUUM / Kafka retention have with slow consumers.
            need_dirs = list(new_dirs) + (
                sorted(new_dd) if self.read_changefeed and v > sv else []
            )
            gone = [
                d
                for d in need_dirs
                if not os.path.isdir(
                    os.path.normpath(os.path.join(self.table_path, d))
                )
            ]
            if gone:
                raise ValueError(
                    f"lakehouse stream of {self.table}: version "
                    f"{v} in the unread span was expired and "
                    f"its dirs {gone} reclaimed; those rows are "
                    "unrecoverable from the stream. Keep "
                    "expire_snapshots retention longer than consumer "
                    "lag, or restart from a fresh offset."
                )
            files = snapshot_files(
                self.table_path,
                sorted(new_dirs),
                list(e.get("partition_by") or []),
            )
            hi = min(ek, len(files)) if v == ev else len(files)
            for f in files[lo:hi]:
                parts.append(_FilePartition(f.path, v, f.partition))
        return parts

    # -- execution (runs on executors; Arrow end-to-end) --------------

    def _project(
        self, tbl, part_values: dict, commit_version: int, change_type: str
    ):
        return _project_to(
            self.schema, tbl, part_values, commit_version, change_type
        )

    def read(self, partition: InputPartition) -> Iterator:
        import pyarrow.parquet as pq

        if isinstance(partition, _DeletesPartition):
            yield from self._read_deletes(partition)
            return
        out = self._project(
            pq.read_table(partition.file),
            partition.part_values,
            partition.commit_version,
            "insert",
        )
        for batch in out.to_batches(max_chunksize=1 << 16):
            yield batch

    def _read_deletes(self, partition: "_DeletesPartition") -> Iterator:
        """CDF delete images: one position-delete file names
        (data file, row index) pairs; read each referenced data file
        once and take the deleted rows. Parallelism is per delete
        file — deletes are small relative to the data they address,
        and the data-file reads use pyarrow's take (no full decode of
        untouched row groups beyond the parquet reader's granularity)."""
        import pyarrow.parquet as pq

        pos = pq.read_table(partition.pos_file)
        by_file: dict[str, list[int]] = {}
        for fp, p in zip(
            pos.column("_file").to_pylist(), pos.column("_pos").to_pylist()
        ):
            by_file.setdefault(_uri_path(fp), []).append(int(p))
        for fp in sorted(by_file):
            tbl = pq.read_table(fp).take(sorted(by_file[fp]))
            out = self._project(
                tbl,
                _partition_values(
                    os.path.relpath(os.path.dirname(fp), self.table_path),
                    partition.part_cols,
                ),
                partition.commit_version,
                "delete",
            )
            for batch in out.to_batches(max_chunksize=1 << 16):
                yield batch


def _project_to(
    schema: StructType,
    tbl,
    part_values: dict,
    commit_version: int,
    change_type: str,
):
    """Project a raw pyarrow table of data-file rows onto the query
    schema: partition values restored at declared types, schema drift
    null-backfilled, CDF metadata columns appended."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_type

    n = tbl.num_rows
    names = set(tbl.schema.names)
    arrays = []
    fields = []
    for f in schema.fields:
        at = to_arrow_type(f.dataType)
        if f.name == "_change_type":
            # Delta change-data (cdc action) files CARRY the change
            # type per row; synthesized partitions get the constant
            arr = (
                tbl.column(f.name).cast(at).combine_chunks()
                if f.name in names
                else pa.array([change_type] * n, type=at)
            )
        elif f.name == "_commit_version":
            arr = pa.array([commit_version] * n, type=at)
        elif f.name in names:
            arr = tbl.column(f.name).cast(at).combine_chunks()
        elif f.name in part_values:
            arr = pa.array(
                [_parse_part(part_values[f.name], f.dataType)] * n,
                type=at,
            )
        else:  # schema drift: old file predates the column
            arr = pa.nulls(n, type=at)
        arrays.append(arr)
        fields.append(pa.field(f.name, at, nullable=True))
    return pa.table(arrays, schema=pa.schema(fields))


def _parse_part(v: str | None, dtype) -> object:
    if v is None:
        return None
    t = dtype.simpleString()
    if t in ("tinyint", "smallint", "int", "bigint"):
        return int(v)
    if t in ("float", "double"):
        return float(v)
    if t == "boolean":
        return v.lower() == "true"
    if t == "date":
        return datetime.date.fromisoformat(v)
    return v


class LakehouseStreamDataSource(DataSource):
    """``spark.readStream.format("lakehouse")`` — register with
    :func:`register_lakehouse_source`. Options: ``path`` (warehouse
    root), ``table``, ``startingVersion`` (int | ``latest``, default
    0 = full table then tail), ``ignoreDeletes``, ``ignoreChanges``,
    ``readChangeFeed`` (stream MOR deletes as delete row images),
    ``maxVersionsPerTrigger``, ``maxFilesPerTrigger`` (file-granular
    admission control: offsets address (version, file-index), so even
    a single multi-thousand-file append version streams in bounded
    microbatches)."""

    @classmethod
    def name(cls) -> str:
        return "lakehouse"

    def schema(self) -> StructType:
        warehouse = self.options.get("path") or self.options.get("warehouse")
        table = self.options.get("table")
        if not warehouse or not table:
            raise ValueError(
                "lakehouse source requires options 'path' and 'table'"
            )
        entries = _published_main(_load_manifest(warehouse, table))
        if not entries:
            raise ValueError(f"table {table} has no published snapshots")
        base = StructType.fromJson(entries[-1]["schema"])
        # strip catalog-internal field metadata (field_id etc.): the
        # stream's consumer-facing schema must not leak the source
        # table's identity — sinking the stream into ANOTHER catalog
        # table would otherwise carry foreign field ids into it
        out = StructType()
        for f in base.fields:
            out = out.add(f.name, f.dataType, f.nullable)
        for cname, ctype in _META_COLS:
            out = out.add(cname, ctype, True)
        return out

    def streamReader(self, schema: StructType) -> LakehouseStreamReader:
        return LakehouseStreamReader(schema, dict(self.options))


# ---------------------------------------------------------------------------
# external Delta tables as a streaming source (the inbound migration
# path: keep existing Delta streaming pipelines running against this
# engine's exports, or any Delta table on disk)
# ---------------------------------------------------------------------------


def _delta_log_versions(log_dir: str) -> list[int]:
    out = []
    for f in os.listdir(log_dir):
        m = re.match(r"^(\d{20})\.json$", f)
        if m:
            out.append(int(m.group(1)))
    return sorted(out)


def _delta_commit_actions(log_dir: str, v: int) -> list[dict]:
    with open(os.path.join(log_dir, f"{v:020d}.json")) as f:
        return [json.loads(line) for line in f if line.strip()]


def _delta_schema_struct(location: str) -> StructType:
    """Latest metaData.schemaString from the JSON log (every export
    and native writer logs one in commit 0; later schema changes
    override)."""
    log_dir = os.path.join(location, "_delta_log")
    if not os.path.isdir(log_dir):
        raise ValueError(f"{location}: no _delta_log directory")
    meta = None
    for v in _delta_log_versions(log_dir):
        for a in _delta_commit_actions(log_dir, v):
            if "metaData" in a and a["metaData"].get("schemaString"):
                meta = a["metaData"]
    if meta is None:
        raise ValueError(f"{location}: no metaData action in log")
    if (meta.get("configuration") or {}).get(
        "delta.columnMapping.mode", "none"
    ) not in ("none", ""):
        raise ValueError(f"{location}: column mapping not supported")
    return StructType.fromJson(json.loads(meta["schemaString"]))


class DeltaStreamReader(DataSourceStreamReader):
    """Streams a Delta table directory by tailing its JSON log:
    offsets are Delta commit versions (+ file index, same
    file-granular admission control as the lakehouse source), each
    ``add`` with ``dataChange`` becomes one Arrow partition, and
    partition columns are restored from ``add.partitionValues`` per
    the protocol. ``readChangeFeed`` streams a CDF-enabled table's
    ``cdc`` change-data files (their in-file ``_change_type`` rides
    through). Removes fail the query unless ``ignoreChanges``;
    deletion vectors refuse."""

    def __init__(self, schema: StructType, options: dict) -> None:
        self.location = os.path.abspath(
            options.get("path") or options.get("location") or ""
        )
        if not self.location:
            raise ValueError(
                "delta_stream source requires .option('path', <table dir>)"
            )
        self.log_dir = os.path.join(self.location, "_delta_log")
        self.schema = schema
        self.starting = str(options.get("startingversion", "0"))
        self.ignore_changes = (
            str(options.get("ignorechanges", "false")).lower() == "true"
        )
        self.read_changefeed = (
            str(options.get("readchangefeed", "false")).lower() == "true"
        )
        mf = options.get("maxfilespertrigger")
        self.max_files = int(mf) if mf is not None else None

    def _initial_version(self) -> int:
        versions = _delta_log_versions(self.log_dir)
        if self.starting == "latest":
            return versions[-1] if versions else -1
        return int(self.starting) - 1

    def initialOffset(self) -> dict:
        return {"version": self._initial_version()}

    def _abs(self, p: str) -> str:
        return os.path.join(self.location, _uri_path(p))

    def _version_adds(self, v: int) -> list[dict]:
        """The streamable file actions of one commit, guard-checked.
        In CDF mode a commit carrying ``cdc`` actions streams THOSE
        (the protocol: change-data files supersede add/remove for
        feed readers); otherwise its dataChange adds stream."""
        adds, cdcs, removes = [], [], []
        for a in _delta_commit_actions(self.log_dir, v):
            if "add" in a and a["add"].get("dataChange", True):
                if a["add"].get("deletionVector"):
                    raise ValueError(
                        f"delta stream of {self.location}: version {v} "
                        "carries deletion vectors; not supported"
                    )
                adds.append(a["add"])
            elif "remove" in a and a["remove"].get("dataChange", True):
                removes.append(a["remove"])
            elif "cdc" in a:
                cdcs.append(a["cdc"])
        if cdcs and self.read_changefeed:
            return cdcs
        if removes and not self.ignore_changes:
            raise ValueError(
                f"delta stream of {self.location}: version {v} removed "
                "files (update/delete/merge). Opt in with "
                ".option('ignoreChanges','true') to stream the new "
                "files, or .option('readChangeFeed','true') on a "
                "CDF-enabled table."
            )
        return adds

    def latestOffset(self) -> dict:
        versions = _delta_log_versions(self.log_dir)
        head = versions[-1] if versions else -1
        if self.max_files is None:
            return {"version": head}
        cur = getattr(self, "_cursor", None)
        if cur is None:
            cur = (self._initial_version(), _ALL_FILES)
        cv, ck = cur
        out_v, out_k = cv, ck
        files_left = self.max_files
        for v in versions:
            if v < cv:
                continue
            if files_left <= 0:
                break
            files = self._version_adds(v)
            done = min(ck, len(files)) if v == cv else 0
            avail = len(files) - done
            if v == cv and avail <= 0:
                out_v, out_k = v, len(files)
                continue
            take = min(avail, files_left)
            out_v, out_k = v, done + take
            files_left -= take
            if take < avail:
                break
        self._cursor = (out_v, out_k)
        return {"version": out_v, "file": out_k}

    def partitions(
        self, start: dict, end: dict
    ) -> Sequence[InputPartition]:
        sv, sk = LakehouseStreamReader._tup(start)
        ev, ek = LakehouseStreamReader._tup(end)
        cur = getattr(self, "_cursor", None)
        self._cursor = max(
            [(sv, sk), (ev, ek)] + ([cur] if cur is not None else [])
        )
        if (ev, ek) <= (sv, sk):
            return []
        versions = _delta_log_versions(self.log_dir)
        missing = [
            v for v in range(max(sv + 1, 0), ev + 1) if v not in versions
        ]
        if missing:
            raise ValueError(
                f"delta stream of {self.location}: commits {missing} in "
                "the unread span were log-cleaned; those rows are "
                "unrecoverable from the stream. Keep log retention "
                "longer than consumer lag, or restart from a fresh "
                "offset."
            )
        parts: list[InputPartition] = []
        for v in versions:
            if v < sv or (v == sv and sk == _ALL_FILES):
                continue
            if v > ev:
                break
            files = self._version_adds(v)
            lo = sk if v == sv else 0
            hi = min(ek, len(files)) if v == ev else len(files)
            for a in files[lo:hi]:
                parts.append(
                    _FilePartition(
                        self._abs(a["path"]),
                        v,
                        dict(a.get("partitionValues") or {}),
                    )
                )
        return parts

    def read(self, partition: _FilePartition) -> Iterator:
        import pyarrow.parquet as pq

        out = _project_to(
            self.schema,
            pq.read_table(partition.file),
            partition.part_values,
            partition.commit_version,
            "insert",
        )
        for batch in out.to_batches(max_chunksize=1 << 16):
            yield batch


class DeltaStreamDataSource(DataSource):
    """``spark.readStream.format("delta_stream")`` over a Delta table
    directory. Options: ``path``, ``startingVersion`` (int | latest),
    ``ignoreChanges``, ``readChangeFeed``, ``maxFilesPerTrigger``."""

    @classmethod
    def name(cls) -> str:
        return "delta_stream"

    def schema(self) -> StructType:
        location = self.options.get("path") or self.options.get("location")
        if not location:
            raise ValueError("delta_stream source requires option 'path'")
        base = _delta_schema_struct(os.path.abspath(location))
        out = StructType()
        for f in base.fields:
            out = out.add(f.name, f.dataType, f.nullable)
        for cname, ctype in _META_COLS:
            out = out.add(cname, ctype, True)
        return out

    def streamReader(self, schema: StructType) -> DeltaStreamReader:
        return DeltaStreamReader(schema, dict(self.options))


def stream_delta(
    spark: SparkSession, location: str, **options: str
) -> DataFrame:
    """``readStream`` over an external Delta table directory."""
    spark.dataSource.register(DeltaStreamDataSource)
    reader = spark.readStream.format("delta_stream").option(
        "path", location
    )
    for k, v in options.items():
        reader = reader.option(k, str(v))
    return reader.load()


def register_lakehouse_source(spark: SparkSession) -> None:
    spark.dataSource.register(LakehouseStreamDataSource)


def stream_table(
    spark: SparkSession, warehouse: str, table: str, **options: str
) -> DataFrame:
    """``readStream`` over a catalog table (appends stream as
    ``_change_type='insert'`` with their ``_commit_version``)."""
    register_lakehouse_source(spark)
    reader = (
        spark.readStream.format("lakehouse")
        .option("path", warehouse)
        .option("table", table)
    )
    for k, v in options.items():
        reader = reader.option(k, str(v))
    return reader.load()
