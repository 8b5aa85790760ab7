"""Lakehouse-lite table catalog: versioned Parquet tables with schema
evolution and time travel (SURVEY.md §1.4, §2.1 S2/S3/S10/S11).

The reference gets these from Iceberg (hidden partitioning, ``ALTER
TABLE ADD COLUMN`` without rewrite, ``.snapshots`` metadata, ``VERSION
AS OF``; see spark/jobs/bronze_ingestion.py:90-121 and
schema_add_column.py:24-40). Where the Iceberg Spark runtime jar is
present our writers can target it with the same calls; this module is
the dependency-free equivalent so the engine is self-contained:

- a table = directory of immutable snapshot data dirs + a JSON manifest
  (append-only commit log: version, parent files, schema, operation);
- append/overwrite = write a new data dir + one manifest entry —
  never rewrite old files;
- add_column = manifest schema change only (zero data movement); old
  files read back with NULLs via parquet schema merge — exactly the
  reference's schema_verify.py:32-38 semantics;
- time travel = read the file list recorded at version N;
- snapshots() = the manifest as a DataFrame (the ``.snapshots`` analog).

Concurrency: every manifest write — data commits, schema DDL, branch
and WAP ops, expiry, and the tag file — happens under a per-table lock
file acquired with an atomic O_EXCL create, against a manifest loaded
under that lock. Concurrent writers (threads or processes on one
filesystem) therefore linearize: both commits land, neither clobbers
the manifest, and expiry never reclaims a dir a commit just wrote.
Metadata-only ops (DDL, branches, publish, rollback, clone, MOR
deletes) share one commit path, :meth:`Catalog._meta_commit`, which
carries the base snapshot's fields forward and stamps the new entry.
On an object store you'd replace the lock with the catalog service's
conditional PUT / CAS (Iceberg REST commit); the call sites don't
change.
"""

from __future__ import annotations

import contextlib
import functools
import json
import operator
import os
import re
import threading
import time
from dataclasses import dataclass
from typing import NamedTuple
from urllib.parse import unquote

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

__all__ = ["Catalog", "TableHandle", "apply_partition_transforms"]

#: ``partition_by`` entries may be Iceberg-style TRANSFORMS instead of
#: plain column names: ``days(ts)`` / ``hours(ts)`` / ``months(ts)``
#: derive a calendar bucket from a timestamp, ``bucket(n, col)`` a hash
#: bucket, ``truncate(n, col)`` a string prefix. The derived column
#: (named ``<col>_<transform>``) is computed automatically on create
#: AND append — callers never materialize it — which is the reference's
#: hidden-partitioning contract (bronze_ingestion.py:113 partitions by
#: days(event_timestamp) without a user-facing column).
_TRANSFORM_RE = re.compile(
    r"^(days|hours|months)\((\w+)\)$|^(bucket|truncate)\((\d+),\s*(\w+)\)$"
)


#: the layout of positional-delete files: (data file path, row index)
#: pairs, as ``Catalog._mor_delete`` writes them
_POS_SCHEMA = "_file string, _pos bigint"


def _fsync_dir(path: str) -> None:
    """Make a just-replaced directory entry durable (POSIX: rename
    durability needs an fsync on the containing directory). No-op on
    platforms without O_DIRECTORY-style dir fds."""
    try:
        fd = os.open(path, os.O_RDONLY)
    except OSError:
        return
    try:
        os.fsync(fd)
    except OSError:
        pass
    finally:
        os.close(fd)


def _write_json(path: str, obj) -> None:
    """Atomically replace ``path`` with ``obj`` as JSON, durable across
    power loss: write a tmp file, fsync it, rename it over ``path``,
    fsync the directory. Readers see the old or the new file, never a
    torn one — manifests, tags (a retention contract expiry trusts),
    stats sidecars, views and transaction intents all rely on it."""
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(obj, f, indent=1)
        f.flush()
        os.fsync(f.fileno())
    os.replace(tmp, path)
    _fsync_dir(os.path.dirname(path))


def _read_json(path: str, default):
    """The JSON at ``path``, or ``default`` when the file is absent."""
    if not os.path.exists(path):
        return default
    with open(path) as f:
        return json.load(f)


# -- snapshot files and their paths -----------------------------------------
#
# The on-disk layout decides which parquet files make up a snapshot and
# how Spark names them; the exporters and the streaming source resolve
# files through these session-free helpers, never by walking or parsing
# paths themselves.


class SnapshotFile(NamedTuple):
    dir: str  # the snapshot dir, as the manifest names it
    path: str  # absolute, normalized local path
    bytes: int
    partition: dict  # hive partition values; None for a null partition


def _partition_values(rel_dir: str, part_cols) -> dict:
    """Hive partition values of the ``col=value`` segments of
    ``rel_dir``: percent-decoded, ``None`` for Hive's null-partition
    directory, restricted to ``part_cols`` (every segment when
    ``None``)."""
    out: dict[str, str | None] = {}
    for seg in rel_dir.split(os.sep):
        k, eq, v = seg.partition("=")
        if eq and (part_cols is None or k in part_cols):
            out[k] = None if v == "__HIVE_DEFAULT_PARTITION__" else unquote(v)
    return out


def snapshot_files(table_path: str, dirs, part_cols=None) -> list[SnapshotFile]:
    """The parquet files of snapshot ``dirs`` (relative to
    ``table_path``; cloned dirs start with ``..``), dir by dir in the
    given order, with their byte sizes and the partition values of
    their directory below the snapshot dir (see
    :func:`_partition_values`). Reads no footers.

    Within a dir, sub-dirs come in ``os.walk`` order and files sorted.
    The streaming source's offsets count files in this order (``file:
    k`` = the first k files of a version), so it must not change."""
    out = []
    for d in dirs:
        root = os.path.abspath(os.path.join(table_path, d))
        for dp, _, fs in os.walk(root):
            pvals = _partition_values(os.path.relpath(dp, root), part_cols)
            for fname in sorted(fs):
                if fname.endswith(".parquet"):
                    full = os.path.join(dp, fname)
                    out.append(
                        SnapshotFile(d, full, os.path.getsize(full), dict(pvals))
                    )
    return out


def _tree_bytes(path: str) -> tuple[int, float]:
    """(bytes of every file under ``path``, newest file mtime — the
    dir's own mtime when it holds no file)."""
    sts = [os.stat(os.path.join(dp, f)) for dp, _, fs in os.walk(path) for f in fs]
    return sum(s.st_size for s in sts), max(
        (s.st_mtime for s in sts), default=os.path.getmtime(path)
    )


def _local_path(p: str) -> str:
    """Local path of a file as table metadata names it: a plain path or
    a ``file:`` path that is NOT percent-encoded (Iceberg manifests and
    position deletes), normalized."""
    return os.path.normpath(re.sub(r"^file:/+", "/", p))


def _uri_path(uri: str) -> str:
    """Local path of a percent-encoded file URI: Spark's
    ``_metadata.file_path`` (``file:/w/a%20b/…``, as positional deletes
    store it) or a Delta log path. A root containing a space or ``%``
    only matches a listed file after decoding."""
    return _local_path(unquote(uri))


def _spark_uri(path: str) -> str:
    """Local ``path`` as Spark reports it in ``_metadata.file_path``:
    ``file:`` plus Hadoop's percent-encoded path URI. Comparing the raw
    column against this needs no per-row decode."""
    from pyspark import SparkContext

    jpath = SparkContext._jvm.org.apache.hadoop.fs.Path(os.path.abspath(path))
    return "file:" + jpath.toUri().toString()


def _in_dirs(col: str, dirs):
    """Column: true where file column ``col`` (Spark's
    ``_metadata.file_path``) lies under one of the local ``dirs`` —
    a cloned equality delete's scope, a COW rewrite's touched dirs,
    ``row_count``'s live files."""
    conds = [F.col(col).startswith(_spark_uri(d) + "/") for d in dirs]
    return functools.reduce(operator.or_, conds) if conds else F.lit(False)


#: what a metadata-only commit carries from its base snapshot unless
#: the op changes it (see Catalog._meta_commit)
_CARRIED = (
    "data_dirs", "delete_dirs", "schema", "partition_by",
    "partition_transforms", "properties", "stats",
)


def _parse_transform(spec: str):
    """→ (derived_name, expr_fn) for a transform spec, or None for a
    plain column name."""
    m = _TRANSFORM_RE.match(spec.strip())
    if not m:
        return None
    if m.group(1):
        kind, col = m.group(1), m.group(2)
        fmt = {"days": "yyyy-MM-dd", "hours": "yyyy-MM-dd-HH", "months": "yyyy-MM"}[
            kind
        ]
        return f"{col}_{kind[:-1]}", lambda: F.date_format(F.col(col), fmt)
    kind, n, col = m.group(3), int(m.group(4)), m.group(5)
    if kind == "bucket":
        return f"{col}_bucket", lambda: F.pmod(F.xxhash64(F.col(col)), F.lit(n)).cast(
            "int"
        )
    return f"{col}_trunc", lambda: F.substring(F.col(col), 1, n)


def apply_partition_transforms(
    df: DataFrame, partition_by: list[str] | None
) -> tuple[DataFrame, list[str] | None]:
    """Materialize transform specs in ``partition_by`` as derived
    columns → (df with derived columns, physical partition column
    list). Plain column names pass through untouched."""
    if not partition_by:
        return df, partition_by
    out_cols = []
    for spec in partition_by:
        parsed = _parse_transform(spec)
        if parsed is None:
            out_cols.append(spec)
        else:
            name, expr = parsed
            if name not in df.columns:
                df = df.withColumn(name, expr())
            out_cols.append(name)
    return df, out_cols


@dataclass
class TableHandle:
    name: str
    path: str

    @property
    def manifest_path(self) -> str:
        return os.path.join(self.path, "_manifest.json")


class Catalog:
    """Namespace of versioned tables rooted at a directory."""

    def __init__(self, spark: SparkSession, root: str) -> None:
        self.spark = spark
        self.root = root
        os.makedirs(root, exist_ok=True)
        # committed snapshot dirs never change, so what a read resolves
        # from one (scan frame, byte total) is reusable while the dir's
        # stamp holds — see _dir_cached. Keyed per reading table's path.
        self._scan_cache: dict[str, dict[tuple, object]] = {}
        self._scan_lock = threading.Lock()

    # -- manifest helpers --------------------------------------------------
    def _handle(self, name: str) -> TableHandle:
        return TableHandle(name, os.path.join(self.root, name))

    def _load_manifest(self, h: TableHandle) -> list[dict]:
        return _read_json(h.manifest_path, [])

    def _entries(self, name: str) -> tuple[TableHandle, list[dict]]:
        """(handle, manifest entries) of an existing table, else raise."""
        h = self._handle(name)
        entries = self._load_manifest(h)
        if not entries:
            raise ValueError(f"table {name} does not exist")
        return h, entries

    def _save_manifest(self, h: TableHandle, entries: list[dict]) -> None:
        # durable manifests + durable txn intents make "crash anywhere
        # after the intent write rolls FORWARD" hold for power loss,
        # not just process crashes
        _write_json(h.manifest_path, entries)

    # -- DDL ---------------------------------------------------------------
    def table_exists(self, name: str) -> bool:
        return os.path.exists(self._handle(name).manifest_path)

    def tables(self) -> list[str]:
        return sorted(
            n
            for n in os.listdir(self.root)
            if os.path.exists(os.path.join(self.root, n, "_manifest.json"))
        )

    def drop_table(self, name: str, *, force: bool = False) -> dict:
        """DROP TABLE: delete the manifest (the table disappears
        atomically at the ``os.replace``-free unlink) and purge the
        table directory.

        Shallow clones (:meth:`clone_table`) reference data dirs under
        the SOURCE table's path, so dropping a cloned-from table would
        destroy the clone's shared snapshots — the same hazard the
        clone docstring states for ``expire_snapshots``. The drop scans
        the other manifests for references into this table's path and
        refuses unless ``force=True``."""
        import shutil

        h = self._handle(name)
        if not self.table_exists(name):
            raise ValueError(f"table {name} does not exist")
        prefix = os.path.abspath(h.path) + os.sep
        dependents = []
        for other in self.tables():
            if other == name:
                continue
            oh = self._handle(other)
            for e in self._load_manifest(oh):
                dirs = list(e.get("data_dirs", [])) + [
                    self._dd_name(d) for d in e.get("delete_dirs", [])
                ]
                # dirs are relative to the referencing table's path
                # (clones reference ../<source>/vNNNNN)
                if any(
                    os.path.abspath(os.path.join(oh.path, d)).startswith(prefix)
                    for d in dirs
                ):
                    dependents.append(other)
                    break
        if dependents and not force:
            raise ValueError(
                f"table {name} is referenced by shallow clone(s) "
                f"{dependents}: dropping it would destroy their shared "
                "snapshots (pass force=True to drop anyway)"
            )
        os.remove(h.manifest_path)
        shutil.rmtree(h.path, ignore_errors=True)
        with self._scan_lock:
            self._scan_cache.pop(os.path.normpath(h.path), None)
        with contextlib.suppress(Exception):
            self.spark.catalog.dropTempView(name)
        return {"op": "drop_table", "name": name, "dependents": dependents}

    def create_table(
        self,
        name: str,
        df: DataFrame,
        *,
        partition_by: list[str] | None = None,
        properties: dict[str, str] | None = None,
        mode: str = "error",
    ) -> TableHandle:
        """CREATE TABLE AS SELECT (S10). mode: error|ignore|replace."""
        h = self._handle(name)
        if self.table_exists(name):
            if mode == "ignore":
                return h
            if mode == "error":
                raise ValueError(f"table {name} already exists")
        return self._commit(h, df, op="create", partition_by=partition_by,
                            properties=properties or {}, replace=True)

    def append(
        self,
        name: str,
        df: DataFrame,
        *,
        properties_update: dict[str, str] | None = None,
        staged: bool = False,
        branch: str | None = None,
    ) -> TableHandle:
        """S6: append snapshot (new files only). ``properties_update``
        merges into the table properties IN THE SAME commit — the hook
        transactional sinks use to record their progress marker (e.g.
        a streaming batch id) atomically with the data it covers.

        ``staged=True`` is the write side of WRITE-AUDIT-PUBLISH
        (Iceberg WAP): the commit lands as a staged snapshot that
        default reads skip. Audit it with ``read(version=...)``, then
        :meth:`publish` to make it current or :meth:`rollback` to the
        last published version to abort. Further staged appends stack;
        a NON-staged commit on top of unpublished staged data refuses
        (it would silently publish it).

        ``branch=`` appends to a named branch lineage instead of main
        (see :meth:`create_branch`)."""
        h = self._handle(name)
        if not self.table_exists(name):
            raise ValueError(f"table {name} does not exist")
        props = None
        if properties_update:
            props = {**self.table_properties(name), **properties_update}
        return self._commit(
            h, df, op="append", replace=False, properties=props,
            staged=staged, branch=branch,
        )

    # -- branches & tags (Iceberg refs) ------------------------------------
    @staticmethod
    def _branch_head(entries: list[dict], branch: str | None) -> dict | None:
        """Head entry of a lineage. ``None`` = main: the last entry not
        belonging to a named branch (staged WAP entries ARE main
        lineage — appends stack on them)."""
        for e in reversed(entries):
            if e.get("branch_dropped"):
                continue
            hit = (e.get("branch") == branch) if branch else ("branch" not in e)
            if hit:
                return e
        return None

    def _main_head(self, entries: list[dict], name: str) -> dict:
        """Head entry of the MAIN lineage, raising if there is none.

        Every main-lineage operation (DML, schema DDL, maintenance,
        metadata reads) must resolve its base through here rather than
        ``entries[-1]``: branch commits land at the manifest TAIL, so
        the tail entry may belong to a branch — basing a main op on it
        would leak branch data dirs (or branch schema/properties) into
        the main lineage."""
        head = self._branch_head(entries, None)
        if head is None:
            raise ValueError(f"table {name} has no main-lineage snapshot")
        return head

    def _tags_path(self, h: TableHandle) -> str:
        return os.path.join(h.path, "_tags.json")

    def _load_tags(self, h: TableHandle) -> dict[str, int]:
        return _read_json(self._tags_path(h), {})

    def create_tag(self, name: str, tag: str, version: int | None = None) -> None:
        """Named immutable pointer to a snapshot (Iceberg tag).
        Tagged snapshots are RETAINED by :meth:`expire_snapshots`
        regardless of ``keep_last`` — a tag is a retention contract
        (audit snapshots, model-training data freezes). Written under
        the commit lock, so the "not expired" check cannot interleave
        with an expiry."""
        with self._commit_lock(self._handle(name)):
            h, entries = self._entries(name)
            v = (
                version
                if version is not None
                else self._main_head(entries, name)["version"]
            )
            if entries[v].get("expired"):
                raise ValueError(f"version {v} of {name} has been expired")
            tags = self._load_tags(h)
            if tag in tags:
                raise ValueError(f"tag {tag!r} already exists on {name}")
            tags[tag] = v
            _write_json(self._tags_path(h), tags)

    def drop_tag(self, name: str, tag: str) -> None:
        h = self._handle(name)
        with self._commit_lock(h):
            tags = self._load_tags(h)
            if tag not in tags:
                raise ValueError(f"tag {tag!r} does not exist on {name}")
            del tags[tag]
            _write_json(self._tags_path(h), tags)

    def create_branch(
        self, name: str, branch: str, version: int | None = None
    ) -> TableHandle:
        """Iceberg branch: an independent lineage starting from a
        snapshot. Commits with ``branch=`` advance only this branch;
        default reads and main commits never see it (audit / backfill /
        experiment isolation — WAP generalized past one staging slot).
        Zero data movement: the branch entry references the base
        snapshot's dirs."""

        def change(entries):
            if self._branch_head(entries, branch) is not None:
                raise ValueError(f"branch {branch!r} already exists on {name}")
            base = (
                entries[version]
                if version is not None
                else self._branch_head(entries, None)
            )
            if base is None or base.get("expired"):
                raise ValueError(f"no usable base snapshot for branch {branch!r}")
            return base, {"branch": branch, "base_version": base["version"]}

        return self._meta_commit(self._handle(name), "create_branch", change)

    def drop_branch(self, name: str, branch: str) -> None:
        """Remove a branch ref: its entries stop resolving (reads and
        commits to the branch fail) and lose their expiry protection —
        the next :meth:`expire_snapshots` reclaims any dirs only the
        branch referenced. The manifest entries stay for audit."""
        h = self._handle(name)
        with self._commit_lock(h):
            entries = self._load_manifest(h)
            hit = False
            for e in entries:
                if e.get("branch") == branch and not e.get("branch_dropped"):
                    e["branch_dropped"] = True
                    hit = True
            if not hit:
                raise ValueError(f"branch {branch!r} does not exist on {name}")
            self._save_manifest(h, entries)

    def fast_forward(self, name: str, branch: str) -> TableHandle:
        """Make a branch's state current on main (Iceberg
        fast_forward): requires main's head to still BE the branch's
        base — if main diverged since the branch was cut, refuse (a
        silent overwrite would drop main's commits; merge by rebasing
        the branch work instead)."""

        def change(entries):
            head = self._branch_head(entries, branch)
            if head is None:
                raise ValueError(f"branch {branch!r} does not exist on {name}")
            base_v = next(
                e["base_version"]
                for e in entries
                if e.get("branch") == branch and e["op"] == "create_branch"
            )
            main_head = self._branch_head(entries, None)
            if main_head is None or main_head["version"] != base_v:
                raise ValueError(
                    f"cannot fast-forward {name} to branch {branch!r}: main "
                    f"moved from version {base_v} to "
                    f"{main_head['version'] if main_head else None} since the "
                    "branch was cut — rebase the branch instead"
                )
            return head, {}

        return self._meta_commit(self._handle(name), "fast_forward", change)

    def publish(self, name: str) -> TableHandle:
        """WAP publish: make the latest staged snapshot current by
        committing a new (unstaged) version referencing its dirs —
        zero data movement, atomic manifest flip."""

        def change(entries):
            target = self._branch_head(entries, None)
            if target is None or not target.get("staged"):
                raise ValueError(f"{name}: nothing staged to publish")
            return target, {}

        return self._meta_commit(self._handle(name), "publish", change)

    def overwrite(
        self, name: str, df: DataFrame, *, staged: bool = False
    ) -> TableHandle:
        """S8: replace contents, keep history (old versions readable).
        ``staged=True`` stages the replace as a WAP snapshot (see
        :meth:`append`)."""
        h = self._handle(name)
        if not self.table_exists(name):
            raise ValueError(f"table {name} does not exist")
        return self._commit(h, df, op="overwrite", replace=True, staged=staged)

    def transaction(self):
        """Atomic multi-table write session (see
        :mod:`data_lakehouse_spark.transactions`)::

            with cat.transaction() as txn:
                txn.append("silver_events", batch)
                txn.overwrite("gold_daily", mart)
            # both visible now, neither before — or neither on error
        """
        from data_lakehouse_spark.transactions import Transaction

        return Transaction(self)

    def _commit(
        self,
        h: TableHandle,
        df: DataFrame,
        *,
        op: str,
        replace: bool,
        partition_by: list[str] | None = None,
        properties: dict[str, str] | None = None,
        base_dirs: list[str] | None = None,
        expected_version: int | None = None,
        staged: bool = False,
        branch: str | None = None,
        extra_eq_delete=None,
    ) -> TableHandle:
        with self._commit_lock(h, create=op == "create"):
            return self._commit_locked(
                h, df, op=op, replace=replace, partition_by=partition_by,
                properties=properties, base_dirs=base_dirs,
                expected_version=expected_version, staged=staged,
                branch=branch, extra_eq_delete=extra_eq_delete,
            )

    @contextlib.contextmanager
    def _commit_lock(
        self, h: TableHandle, timeout: float = 60.0, *, create: bool = False
    ):
        """Per-table writer lock via atomic O_EXCL create. Serializes
        the version-number read, data-dir write, and manifest flip so
        concurrent commits linearize instead of clobbering each other.
        A crashed holder is detected by lock age > 10×timeout and the
        lock is broken (local-filesystem pragmatism; a real deployment
        uses the catalog service's CAS).

        Only a commit that creates the table (``create``) makes the
        table dir; any other op on a name without one raises, so it
        leaves no empty dir behind."""
        if create:
            os.makedirs(h.path, exist_ok=True)
        elif not os.path.isdir(h.path):
            raise ValueError(f"table {h.name} does not exist")
        lock = os.path.join(h.path, "_commit.lock")
        t0 = time.time()
        while True:
            try:
                fd = os.open(lock, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
                break
            except FileExistsError:
                try:
                    if time.time() - os.path.getmtime(lock) > 10 * timeout:
                        os.unlink(lock)
                        continue
                except OSError:
                    continue
                if time.time() - t0 > timeout:
                    raise TimeoutError(
                        f"commit lock on {h.name} held for >{timeout}s: {lock}"
                    )
                time.sleep(0.05)
        try:
            yield
        finally:
            os.close(fd)
            with contextlib.suppress(OSError):
                os.unlink(lock)

    @staticmethod
    def _check_version(
        h: TableHandle, op: str, entries: list[dict],
        expected_version: int | None,
    ) -> None:
        """Refuse a commit built against a manifest that has since grown
        (a concurrent writer landed between the caller's read and its
        commit): the caller's work would silently drop that commit."""
        if expected_version is not None and len(entries) != expected_version:
            raise RuntimeError(
                f"concurrent modification of {h.name}: {op} built against "
                f"version {expected_version - 1} but table is now at "
                f"{len(entries) - 1}; re-read and retry"
            )

    def _meta_commit(
        self, h: TableHandle, op: str, change, *,
        expected_version: int | None = None,
    ) -> TableHandle:
        """The one commit path for manifest-only changes (schema DDL,
        partition spec, branch / WAP / rollback refs, clones, MOR delete
        files). Under the table's commit lock it loads the manifest,
        checks ``expected_version``, and calls ``change(entries)``,
        which validates against that locked manifest and returns
        ``(base entry, fields that differ)`` — or ``None`` for an
        idempotent no-op. The new entry carries every ``_CARRIED`` field
        from the base (dropping delete_dirs would resurrect MOR-deleted
        rows), overlays the changed fields and lands as the next
        version. ``change`` may write files under the lock (delete
        dirs) but must not call a locking public method: the lock is
        not re-entrant.

        A missing table raises, except with ``expected_version=0``: the
        commit then CREATES the table (clone)."""
        with self._commit_lock(h, create=expected_version == 0):
            entries = self._load_manifest(h)
            self._check_version(h, op, entries, expected_version)
            if not entries and expected_version is None:
                raise ValueError(f"table {h.name} does not exist")
            out = change(entries)
            if out is None:
                return h
            base, fields = out
            entries.append(
                {
                    **{k: base.get(k) for k in _CARRIED},
                    "data_dirs": list(base["data_dirs"]),
                    "delete_dirs": list(base.get("delete_dirs") or []),
                    "properties": base.get("properties") or {},
                    "version": len(entries),
                    "op": op,
                    "committed_at": time.strftime("%Y-%m-%d %H:%M:%S", time.gmtime()),
                    **fields,
                }
            )
            self._save_manifest(h, entries)
        return h

    def _commit_locked(
        self,
        h: TableHandle,
        df: DataFrame,
        *,
        op: str,
        replace: bool,
        partition_by: list[str] | None = None,
        properties: dict[str, str] | None = None,
        base_dirs: list[str] | None = None,
        expected_version: int | None = None,
        staged: bool = False,
        branch: str | None = None,
        extra_eq_delete=None,
    ) -> TableHandle:
        entries = self._load_manifest(h)
        self._check_version(h, op, entries, expected_version)
        if branch is not None and self._branch_head(entries, branch) is None:
            raise ValueError(
                f"branch {branch!r} does not exist on {h.name}: create_branch first"
            )
        # lineage-aware parent: a branch commit inherits from ITS
        # branch's head; a main commit from the last main entry —
        # interleaved branch commits must never leak dirs across
        # lineages. Staged WAP entries belong to main (appends stack).
        prev = self._branch_head(entries, branch)
        if branch is None and prev is not None and prev.get("staged") and not staged:
            raise ValueError(
                f"{h.name} has unpublished staged snapshots: publish() or "
                "rollback() before committing on top of them (a plain "
                "commit would silently publish the staged data)"
            )
        version = len(entries)
        data_dir = os.path.join(h.path, f"v{version:05d}")
        # transform specs come from the caller on create, and from the
        # manifest on every later commit — appends re-derive hidden
        # partition columns without the caller materializing them.
        # partition_transforms == [] means EXPLICITLY unpartitioned
        # (set_partition_spec(None)); only a missing key (legacy
        # manifest) falls back to the physical partition_by list.
        if partition_by is not None:
            pb_spec = partition_by
        elif prev:
            pt = prev.get("partition_transforms")
            pb_spec = pt if pt is not None else prev.get("partition_by")
        else:
            pb_spec = None
        df, pb = apply_partition_transforms(df, pb_spec)
        props_now = properties or (prev.get("properties") if prev else {}) or {}
        bloom_cols = [
            c.strip()
            for c in (props_now.get("bloom.columns") or "").split(",")
            if c.strip() and c.strip() in df.columns
        ]
        sort_cols = [
            c.strip()
            for c in (props_now.get("sort.columns") or "").split(",")
            if c.strip() and c.strip() in df.columns
        ]
        constraints = props_now.get("check.constraints")
        if constraints and op not in ("compact", "rewrite_deletes"):
            # Delta-style CHECK constraints: every write validates the
            # incoming rows against the declared predicates and REFUSES
            # the commit on violation — the table can never hold a row
            # that fails a constraint. Maintenance rewrites (compact /
            # delete-fold) carry existing rows and skip the re-check.
            for pred in [p.strip() for p in constraints.split(";") if p.strip()]:
                bad = df.filter(
                    ~F.coalesce(F.expr(pred), F.lit(False))
                ).limit(1).count()
                if bad:
                    raise ValueError(
                        f"CHECK constraint violated on {h.name}: ({pred}) "
                        "— commit refused, no data written"
                    )
        if sort_cols:
            # declared sort order (Iceberg WRITE ORDERED BY / MergeTree
            # ORDER BY analog): cluster key ranges in every written
            # file so min/max skipping works on every read — a
            # property, so EVERY commit (append, compact, COW DML)
            # preserves the clustering without callers remembering to.
            # sort.distribute=range adds Iceberg's range distribution
            # (one shuffle per write): keys land in DISJOINT per-file
            # ranges instead of merely sorted within whatever
            # partitioning arrived — the mode that makes file-level
            # skipping sharp; the default stays shuffle-free.
            if (props_now.get("sort.distribute") or "").lower() == "range":
                n_parts = df.rdd.getNumPartitions()
                df = df.repartitionByRange(
                    n_parts, *[F.col(c) for c in sort_cols]
                )
            df = df.sortWithinPartitions(*sort_cols)
        writer = df.write.format("parquet")
        for c in bloom_cols:
            # parquet-native per-file bloom filters: the row-group tier
            # of the skipping hierarchy (dir sidecar > file bloom >
            # row-group min/max). Spark's reader consults them for
            # pushed equality predicates with zero extra code here.
            # Dictionary encoding is disabled for bloom columns:
            # parquet-mr suppresses the bloom when a column is fully
            # dict-encoded, and bloom columns are by definition
            # high-cardinality keys whose dictionaries overflow to
            # plain at any real scale anyway.
            writer = writer.option(f"parquet.bloom.filter.enabled#{c}", "true")
            writer = writer.option(f"parquet.enable.dictionary#{c}", "false")
            # adaptive sizing: the bloom is sized by the ACTUAL ndv of
            # each file instead of the 1 MiB worst-case default — small
            # files carry kilobyte blooms, big files grow as needed
            writer = writer.option("parquet.bloom.filter.adaptive.enabled", "true")
        if pb:
            writer = writer.partitionBy(*pb)
        writer.mode("overwrite").save(data_dir)
        for c in bloom_cols:
            self._write_dir_bloom(data_dir, c)

        if base_dirs is not None:
            dirs = list(base_dirs)
        else:
            dirs = [] if replace else list(prev["data_dirs"]) if prev else []
        dirs.append(f"v{version:05d}")
        # Positional-delete files survive any commit that carries prior
        # data dirs forward (append, COW DML on other dirs); a full
        # replace starts from a clean slate. Dropping them on a carry
        # would RESURRECT merge-on-read-deleted rows.
        if replace and base_dirs is None:
            ddirs: list[str] = []
        else:
            ddirs = list(prev.get("delete_dirs") or []) if prev else []
        if extra_eq_delete is not None:
            # SAME-COMMIT equality delete (the atomic CDC-upsert shape,
            # see upsert_cdc): the key file lands next to this commit's
            # data dir and both flip in ONE manifest save — no window
            # where the deletes applied without the new images. The
            # delete's seq equals this commit's version, so this
            # commit's own data dir (seq == version) is NOT suppressed
            # (strictly-lower rule) while every prior dir is.
            # foreign (cloned) dirs get their coverage pinned to the
            # PRE-commit snapshot: this commit's own data dir must stay
            # outside the scope — the equal-seq tie the local rule
            # breaks by strictness
            eq_keys, eq_cols = extra_eq_delete
            edir = f"e{version:05d}"
            eq_keys.select(*eq_cols).distinct().coalesce(1).write.mode(
                "overwrite"
            ).parquet(os.path.join(h.path, edir))
            ddirs = ddirs + [self._eq_delete_record(edir, eq_cols, prev, version)]
        schema_json = self._assign_field_ids(
            json.loads(df.schema.json()), entries, prev=prev
        )
        if not replace and prev is not None:
            # appends may omit optional columns (Iceberg write
            # semantics): the TABLE schema is the union — prior fields
            # the writer didn't supply persist with their type and
            # metadata (initial defaults, comments) instead of being
            # silently dropped. `written_fields` records what this
            # dir physically carries so reads apply defaults only to
            # genuinely absent columns.
            present = {f["name"] for f in schema_json["fields"]}
            missing = [
                f
                for f in prev["schema"]["fields"]
                if f["name"] not in present
            ]
            schema_json["fields"] = schema_json["fields"] + missing
        entries.append(
            {
                "version": version,
                "op": op,
                "committed_at": time.strftime("%Y-%m-%d %H:%M:%S", time.gmtime()),
                "data_dirs": dirs,
                "delete_dirs": ddirs,
                "schema": schema_json,
                "written_fields": list(df.columns),
                "partition_by": pb,
                "partition_transforms": pb_spec,
                "properties": properties or (prev.get("properties") if prev else {}),
                "stats": self._dir_stats(h.path, os.path.basename(data_dir)),
                **({"staged": True} if staged else {}),
                **({"branch": branch} if branch else {}),
            }
        )
        self._save_manifest(h, entries)
        return h

    #: Dir-level bloom geometry: FIXED size so build memory is bounded
    #: by the filter, never by the key count. 2^23 bits (1 MiB) / k=4
    #: gives ~1.2% false positives at 1M distinct keys per dir and
    #: degrades gracefully above; a false positive only costs reading a
    #: dir that min/max couldn't skip anyway.
    _BLOOM_BITS = 1 << 23
    _BLOOM_K = 4

    def _bloom_positions(self, col_expr) -> list:
        """The k bit positions for a column expression, as Spark SQL
        columns — Spark's xxhash64 with seeds 0..k-1 so build and probe
        use the exact same hash family (no Python-side reimplementation
        to drift)."""
        return [
            F.pmod(F.xxhash64(col_expr, F.lit(seed)), F.lit(self._BLOOM_BITS))
            for seed in range(self._BLOOM_K)
        ]

    def _write_dir_bloom(self, data_dir: str, col: str) -> None:
        """Commit-time dir-level bloom sidecar (``_bloom_<col>.json``)
        for point-lookup data skipping on high-cardinality keys, where
        footer min/max is useless (a uuid/hash key's [min, max] spans
        everything after a handful of rows).

        Build is scale-bounded: the DISTINCT set of bit positions is at
        most 2^23 regardless of row count, so the shuffle and the
        driver collect are capped at the filter size (~8M ints), never
        O(rows). The sidecar lives inside the snapshot dir (underscore
        prefix: invisible to parquet readers) so expiry reclaims it
        with the data."""
        import base64

        import numpy as np

        df = self.spark.read.parquet(data_dir).select(F.col(col))
        positions = (
            df.filter(F.col(col).isNotNull())
            .select(
                F.explode(F.array(*self._bloom_positions(F.col(col)))).alias(
                    "_bit"
                )
            )
            .distinct()
            .collect()
        )
        bits = np.zeros(self._BLOOM_BITS // 8, dtype=np.uint8)
        idx = np.array([r["_bit"] for r in positions], dtype=np.int64)
        if len(idx):
            np.bitwise_or.at(bits, idx // 8, (1 << (idx % 8)).astype(np.uint8))
        payload = {
            "column": col,
            # build-time PHYSICAL type: probes must hash the literal at
            # this type, not the table's declared type — after a
            # widening alter_column_type the two diverge and
            # xxhash64(int value) != xxhash64(long value)
            "type": df.schema[col].dataType.simpleString(),
            "m": self._BLOOM_BITS,
            "k": self._BLOOM_K,
            "bits": base64.b64encode(bits.tobytes()).decode("ascii"),
        }
        with open(os.path.join(data_dir, f"_bloom_{col}.json"), "w") as f:
            json.dump(payload, f)

    def _bloom_might_contain(
        self, dir_path: str, col: str, value, declared_type: str,
        pos_cache: dict,
    ) -> bool:
        """Probe a dir's bloom sidecar. Missing sidecar → True (keep the
        dir: the column wasn't bloom-tracked when it was written).

        The probe literal is cast to the sidecar's RECORDED build-time
        type, not the table's declared type: after a widening
        ``alter_column_type`` the declared type diverges from the
        physical type the sidecar hashed, and probing at the declared
        type would yield false NEGATIVES — live dirs silently skipped,
        the one failure mode a bloom must never have. Positions are
        cached per (column, build type) so the per-read Spark probe job
        runs once per distinct sidecar generation, not per dir. Legacy
        sidecars without a recorded type fall back to the declared
        type (their builds predate alter_column_type support)."""
        import base64

        payload = _read_json(os.path.join(dir_path, f"_bloom_{col}.json"), None)
        if payload is None:
            return True
        btype = payload.get("type") or declared_type
        key = (col, btype)
        if key not in pos_cache:
            pos_cache[key] = self._probe_positions(
                {col: value}, {col: btype}
            )[col]
        bits = base64.b64decode(payload["bits"])
        for p in pos_cache[key]:
            if not (bits[p // 8] >> (p % 8)) & 1:
                return False
        return True

    def _probe_positions(
        self, values: dict[str, object], col_types: dict[str, str]
    ) -> dict[str, list[int]]:
        """Bit positions of each probe literal, computed BY SPARK (one
        tiny local-relation job) so the probe hash is bit-identical to
        the build hash. Each literal is CAST to its column's declared
        type first — xxhash64 hashes the physical representation, so an
        int literal probing a bigint column would silently produce a
        false NEGATIVE (the one failure mode a bloom must never have)."""
        row = (
            self.spark.range(1)
            .select(
                *[
                    F.array(
                        *self._bloom_positions(
                            F.lit(v).cast(col_types.get(c, "string"))
                        )
                    ).alias(c)
                    for c, v in values.items()
                ]
            )
            .collect()[0]
        )
        return {c: list(row[c]) for c in values}

    @staticmethod
    def _footer_rows(table_path: str, d: str) -> int:
        """Rows in the parquet files of dir ``d``, from their footers
        (no data read)."""
        import pyarrow.parquet as pq

        return sum(
            pq.read_metadata(f.path).num_rows for f in snapshot_files(table_path, [d])
        )

    @staticmethod
    def _dir_stats(table_path: str, d: str) -> dict:
        """Per-directory column min/max/null-count aggregated from the
        parquet FOOTERS of the just-written files (metadata-only reads,
        no data scan) — the Iceberg manifest-metrics analog. Powers
        :meth:`read`'s snapshot-dir pruning: a predicate outside a
        dir's [min, max] skips the whole dir without listing or opening
        its files. Only scalar orderable types are recorded."""
        import pyarrow.parquet as pq

        mins: dict = {}
        maxs: dict = {}
        nulls: dict = {}
        rows = 0
        for f in snapshot_files(table_path, [d]):
            md = pq.read_metadata(f.path)
            rows += md.num_rows
            for rg in range(md.num_row_groups):
                g = md.row_group(rg)
                for ci in range(g.num_columns):
                    col = g.column(ci)
                    name = col.path_in_schema
                    if "." in name:  # nested: skip
                        continue
                    st = col.statistics
                    if st is None or not st.has_min_max:
                        continue
                    try:
                        mn, mx = st.min, st.max
                    except Exception:
                        # pyarrow can't decode stats for every
                        # physical type (e.g. some decimals):
                        # missing stats only DISABLE pruning for
                        # this column, never break the commit
                        continue
                    if isinstance(mn, bytes):
                        continue  # undecoded binary stats: skip
                    if not isinstance(
                        mn, (int, float, str)
                    ):  # timestamps/dates → ISO strings
                        mn, mx = str(mn), str(mx)
                    prev_mn = mins.get(name)
                    mins[name] = mn if prev_mn is None else min(prev_mn, mn)
                    prev_mx = maxs.get(name)
                    maxs[name] = mx if prev_mx is None else max(prev_mx, mx)
                    if st.has_null_count:
                        nulls[name] = nulls.get(name, 0) + st.null_count
        return {
            "rows": rows,
            "min": mins,
            "max": maxs,
            "null_count": nulls,
        }

    @staticmethod
    def _max_field_id(entries: list[dict]) -> int:
        return max(
            (
                (f.get("metadata") or {}).get("field_id", 0)
                for e in entries
                for f in e["schema"]["fields"]
            ),
            default=0,
        )

    def _assign_field_ids(
        self, schema_json: dict, entries: list[dict],
        prev: dict | None = None,
    ) -> dict:
        """Iceberg-style stable field ids: a column keeps its id across
        commits (matched by name against the previous schema — renames
        go through :meth:`rename_column`, which preserves the id
        explicitly), and fresh names get fresh ids so a re-added name
        never resurrects dropped data. Ids are what let :meth:`read`
        resolve files written under a column's OLD name.

        ``prev`` is the LINEAGE head the commit builds on (main head for
        main commits, branch head for branch commits) — names must be
        matched against that lineage's schema, not the manifest tail,
        which may belong to another lineage."""
        if prev is None and entries:
            prev = entries[-1]
        prev_fields = (
            {f["name"]: f for f in prev["schema"]["fields"]} if prev else {}
        )
        nid = self._max_field_id(entries)
        for f in schema_json["fields"]:
            pf = prev_fields.get(f["name"])
            # inherit the previous field metadata wholesale (field_id,
            # comment, initial default) — a write must never strip
            # schema-level contracts like the default; the writer's own
            # metadata keys overlay EXCEPT field_id: ids are THIS
            # table's identity and come only from its own lineage
            # (matched by name) or fresh assignment. A DataFrame whose
            # schema rode in from another table (catalog.read of a
            # different table, the streaming source) carries foreign
            # ids — trusting them mints duplicates and id-based file
            # resolution then reads the WRONG columns.
            md_writer = dict(f.get("metadata") or {})
            md_writer.pop("field_id", None)
            md = {
                **(dict(pf.get("metadata") or {}) if pf else {}),
                **md_writer,
            }
            if pf is None:
                md.pop("field_id", None)  # no same-name ancestor: fresh
            if "field_id" not in md:
                nid += 1
                md["field_id"] = nid
            f["metadata"] = md
        return schema_json

    # -- schema evolution (S11) --------------------------------------------
    def add_column(self, name: str, col_name: str, col_type: str,
                   comment: str | None = None,
                   default: object | None = None) -> None:
        """ALTER TABLE ADD COLUMN without rewrite; idempotent like the
        reference's DESCRIBE check (schema_add_column.py:19-22).

        ``default`` is the Iceberg-v3 INITIAL DEFAULT: every file that
        does not carry the column (i.e. was written while the column
        didn't exist, or without it) reads the default back instead of
        NULL — still zero rewrite, the value lives only in the field
        metadata."""

        def change(entries):
            base = self._main_head(entries, name)
            fields = base["schema"]["fields"]
            if any(f["name"] == col_name for f in fields):
                return None  # idempotent no-op
            md: dict = {"field_id": self._max_field_id(entries) + 1}
            if comment:
                md["comment"] = comment
            if default is not None:
                md["default"] = default
            new = {"name": col_name, "type": col_type, "nullable": True,
                   "metadata": md}
            return base, {"schema": {**base["schema"], "fields": fields + [new]}}

        self._meta_commit(self._handle(name), "add_column", change)

    #: Zero-rewrite type promotions: every old on-disk value is exactly
    #: representable in the new type (Iceberg's safe-widening set).
    _SAFE_PROMOTIONS = {
        ("short", "integer"),
        ("short", "long"),
        ("integer", "long"),
        ("float", "double"),
    }

    @classmethod
    def _is_safe_promotion(cls, old: str, new: str) -> bool:
        if (old, new) in cls._SAFE_PROMOTIONS:
            return True
        mo = re.match(r"^decimal\((\d+),(\d+)\)$", old)
        mn = re.match(r"^decimal\((\d+),(\d+)\)$", new)
        if mo and mn:
            # precision may grow; scale must not change (a scale change
            # re-interprets the stored unscaled values)
            return (
                int(mn.group(1)) >= int(mo.group(1))
                and mn.group(2) == mo.group(2)
            )
        return False

    def alter_column_type(self, name: str, col_name: str, new_type: str) -> None:
        """ALTER TABLE ALTER COLUMN TYPE without rewrite — safe
        WIDENING promotions only (short→int→long, float→double,
        decimal precision growth): old files keep their narrow physical
        type and reads cast per directory to the target schema; a
        narrowing or re-interpreting change raises."""

        def change(entries):
            base = self._main_head(entries, name)
            fields = base["schema"]["fields"]
            cur = next((f for f in fields if f["name"] == col_name), None)
            if cur is None:
                raise ValueError(f"column {col_name} does not exist in {name}")
            if cur["type"] == new_type:
                return None  # idempotent no-op
            if not self._is_safe_promotion(cur["type"], new_type):
                raise ValueError(
                    f"cannot alter {name}.{col_name} from {cur['type']} to "
                    f"{new_type}: only widening promotions are zero-rewrite "
                    f"(allowed: short→int→long, float→double, decimal "
                    "precision growth)"
                )
            fields = [
                {**f, "type": new_type} if f["name"] == col_name else f
                for f in fields
            ]
            return base, {"schema": {**base["schema"], "fields": fields}}

        self._meta_commit(self._handle(name), "alter_column_type", change)

    def rename_column(self, name: str, old: str, new: str) -> None:
        """ALTER TABLE RENAME COLUMN without rewrite (manifest-only).

        The column keeps its stable field id, so :meth:`read` keeps
        resolving files written under the old name — the Iceberg
        rename semantics, impossible with pure name-based parquet
        schema merge. Partition columns are refused (their old name is
        baked into directory layouts)."""

        def change(entries):
            base = self._main_head(entries, name)
            if old in (base.get("partition_by") or []):
                raise ValueError(f"cannot rename partition column {old}")
            fields = base["schema"]["fields"]
            if not any(f["name"] == old for f in fields):
                raise ValueError(f"column {old} does not exist in {name}")
            if any(f["name"] == new for f in fields):
                raise ValueError(f"column {new} already exists in {name}")
            fields = [{**f, "name": new} if f["name"] == old else f for f in fields]
            return base, {"schema": {**base["schema"], "fields": fields}}

        self._meta_commit(self._handle(name), "rename_column", change)

    def drop_column(self, name: str, col_name: str) -> None:
        """ALTER TABLE DROP COLUMN without rewrite (manifest-only): the
        column disappears from every version ≥ this commit; the bytes
        stay in old files (and in time travel) until snapshots expire.
        A later :meth:`add_column` with the same name gets a FRESH field
        id, so it reads back NULL instead of resurrecting dropped data."""

        def change(entries):
            base = self._main_head(entries, name)
            if col_name in (base.get("partition_by") or []):
                raise ValueError(f"cannot drop partition column {col_name}")
            fields = base["schema"]["fields"]
            # a live equality delete matches rows BY this column —
            # dropping it would leave every read with an unresolvable
            # key reference
            fid = next(
                (
                    (f.get("metadata") or {}).get("field_id")
                    for f in fields
                    if f["name"] == col_name
                ),
                None,
            )
            for rec in self._dd_split(base.get("delete_dirs") or [])[1]:
                fids = rec.get("field_ids") or []
                if col_name in rec.get("cols", []) or (
                    fid is not None and fid in fids
                ):
                    raise ValueError(
                        f"cannot drop {col_name}: a live equality delete "
                        f"({rec['dir']}) matches on it; run "
                        "rewrite_position_deletes first to fold the delete "
                        "into the data"
                    )
            if not any(f["name"] == col_name for f in fields):
                raise ValueError(f"column {col_name} does not exist in {name}")
            fields = [f for f in fields if f["name"] != col_name]
            return base, {"schema": {**base["schema"], "fields": fields}}

        self._meta_commit(self._handle(name), "drop_column", change)

    def set_partition_spec(
        self, name: str, partition_by: list[str] | None
    ) -> None:
        """ALTER TABLE ... WRITE ORDERED BY / partition-spec EVOLUTION
        (Iceberg's signature metadata-only op): change how FUTURE
        appends are laid out without rewriting a byte of existing data.

        Existing snapshot dirs keep their old directory layout and stay
        fully readable — :meth:`read` already unions dirs each under
        its own basePath with its writer's schema, so mixed layouts
        coexist in one table. New appends derive the new spec's hidden
        partition columns (old hidden columns simply stop being
        produced and read back NULL for new dirs once the schema
        evolves). Accepts the same transform specs as
        :meth:`create_table` (``days(ts)``, ``bucket(n, col)``, ...);
        ``None`` switches to unpartitioned appends."""
        # [] = explicitly unpartitioned (None would read as a legacy
        # manifest and fall back to partition_by)
        spec = {"partition_transforms": partition_by if partition_by is not None else []}
        self._meta_commit(
            self._handle(name), "set_partition_spec",
            lambda entries: (self._main_head(entries, name), spec),
        )

    # -- maintenance -------------------------------------------------------
    def compact(
        self,
        name: str,
        *,
        target_file_bytes: int = 128 * 1024 * 1024,
        zorder_by: list[str] | None = None,
        where=None,
    ) -> dict:
        """OPTIMIZE: rewrite into ~target-sized files (Iceberg
        rewrite_data_files / Delta OPTIMIZE analog).

        Incremental appends accumulate small files — each append commit
        is its own directory — and at 100 TB scan cost becomes dominated
        by per-file open/footer overhead rather than bytes. Compaction
        reads the live file set and writes a new snapshot with
        ``ceil(bytes / target)`` files per partition tree, preserving
        the partition layout (a plain commit: time travel to the
        pre-compaction version still works, and readers never see a
        partial state because the manifest flips atomically).

        ``where`` (SQL string or Column) SCOPES the rewrite — Delta's
        ``OPTIMIZE ... WHERE`` — to the snapshot dirs that contain
        matching rows: only those dirs rewrite (every row in them, the
        compaction invariant), untouched dirs carry forward, and a
        concurrent commit fails the scoped compaction instead of being
        dropped. At scale this is the ONLY compaction mode that
        matters: the daily job compacts yesterday's partition, never
        the table.
        """
        h, entries = self._entries(name)
        head = self._main_head(entries, name)
        pb = head.get("partition_by")

        def _shape(df: DataFrame, n_files: int) -> DataFrame:
            if zorder_by:
                # OPTIMIZE ZORDER BY: range-partition on the Morton
                # code so each output file covers a small rectangle in
                # zorder_by space — min/max file skipping then works
                # for predicates on ANY clustered column, not just a
                # leading sort key.
                from data_lakehouse_spark.functions.zorder import zorder_df

                zdf, zcol = zorder_df(df, zorder_by)
                return zdf.repartitionByRange(n_files, F.col(zcol)).drop(zcol)
            if pb:
                return df.repartition(n_files, *pb)
            return df.coalesce(n_files)

        def head_files() -> list[SnapshotFile]:
            # the data files of the snapshot the compaction committed,
            # listed from its dirs: no read plan is built to count them
            return snapshot_files(
                h.path, self._main_head(self._load_manifest(h), name)["data_dirs"]
            )

        if where is None:
            current = self.read(name)
            files_before = len(current.inputFiles())
            bytes_total = sum(self._dir_bytes(h, d) for d in head["data_dirs"])
            n_files = max(1, -(-bytes_total // target_file_bytes))
            self._commit(
                h, _shape(current, n_files), op="compact", replace=True
            )
            return {
                "table": name,
                "files_before": files_before,
                "files_after": len(head_files()),
                "bytes": bytes_total,
                "rewritten_dirs": list(head["data_dirs"]),
                "kept_dirs": [],
            }

        cond = F.expr(where) if isinstance(where, str) else where
        is_hit = F.coalesce(cond, F.lit(False))
        live = head["data_dirs"]
        cur = (
            self.read(name, with_lineage=True)
            .withColumnRenamed("_file", "_cow_file")
            .drop("_pos")
        )
        hit_files = [
            r["_cow_file"]
            for r in cur.filter(is_hit).select("_cow_file").distinct().collect()
        ]
        touched, kept, in_touched = self._touched_dirs(h, live, hit_files)
        if not touched:
            return {
                "table": name, "files_before": 0, "files_after": 0,
                "bytes": 0, "rewritten_dirs": [], "kept_dirs": list(live),
            }
        files_before = len(hit_files)
        bytes_touched = sum(self._dir_bytes(h, d) for d in touched)
        n_files = max(1, -(-bytes_touched // target_file_bytes))
        rewritten = _shape(
            cur.filter(in_touched).drop("_cow_file"), n_files
        )
        self._commit(
            h, rewritten, op="compact", replace=True, base_dirs=kept,
            expected_version=len(entries),
        )
        return {
            "table": name,
            "files_before": files_before,
            "files_after": len(head_files()) - len(snapshot_files(h.path, kept)),
            "bytes": bytes_touched,
            "rewritten_dirs": touched,
            "kept_dirs": kept,
        }

    def _touched_dirs(self, h: TableHandle, live: list[str], hit_files):
        """Split snapshot dirs ``live`` by the data files holding matching
        rows (``_cow_file`` lineage values) → ``(touched, kept,
        in_touched)``: the dirs to rewrite, the dirs to carry forward
        unmodified, and a Column that is true for rows of a touched dir.
        Dirs compare as normalized absolutes: cloned dirs carry ``../``
        segments that the file paths Spark reports never show."""
        hits = [_uri_path(fp) for fp in hit_files]
        touched = [
            d
            for d in live
            if any(
                fp.startswith(os.path.abspath(os.path.join(h.path, d)) + os.sep)
                for fp in hits
            )
        ]
        kept = [d for d in live if d not in touched]
        in_touched = _in_dirs(
            "_cow_file", [os.path.join(h.path, d) for d in touched]
        )
        return touched, kept, in_touched

    def _cow_rewrite(
        self,
        name: str,
        condition,
        op: str,
        build_rewritten,
    ) -> dict:
        """Shared copy-on-write machinery for row-level DML: find the
        data directories that actually contain matching rows, rewrite
        ONLY those, and carry every untouched directory into the new
        snapshot unmodified (Iceberg copy-on-write semantics at
        directory granularity — with date-partitioned appends, a delete
        scoped to one day rewrites one day, not the table). Time travel
        to the pre-DML version keeps working; readers flip atomically
        with the manifest."""
        h, entries = self._entries(name)
        cond = F.expr(condition) if isinstance(condition, str) else condition
        # SQL DML semantics: only cond IS TRUE rows are affected;
        # FALSE and NULL rows are kept verbatim.
        is_hit = F.coalesce(cond, F.lit(False))
        live = self._main_head(entries, name)["data_dirs"]
        # lineage read, not input_file_name(): once MOR delete files
        # exist the scan is a join of two file sources and
        # input_file_name() is ambiguous; _file is pinned at the data
        # scan.
        cur = (
            self.read(name, with_lineage=True)
            .withColumnRenamed("_file", "_cow_file")
            .drop("_pos")
        )
        hit_files = [
            r["_cow_file"]
            for r in cur.filter(is_hit).select("_cow_file").distinct().collect()
        ]
        touched, kept, in_touched = self._touched_dirs(h, live, hit_files)
        if not touched:
            return {"table": name, "affected_rows": 0,
                    "rewritten_dirs": [], "kept_dirs": list(live)}
        affected = cur.filter(is_hit).count()
        rewritten = build_rewritten(
            cur.filter(in_touched), is_hit
        ).drop("_cow_file")
        # validate the base snapshot at commit time: a concurrent append
        # between our read and this commit must FAIL the DML (its data
        # would silently vanish from the rewrite), Iceberg-style
        self._commit(
            h, rewritten, op=op, replace=True, base_dirs=kept,
            expected_version=len(entries),
        )
        return {"table": name, "affected_rows": affected,
                "rewritten_dirs": touched, "kept_dirs": kept}

    def delete_where(
        self,
        name: str,
        condition,
        *,
        mode: str = "cow",
        equality_cols: list[str] | None = None,
    ) -> dict:
        """DELETE FROM name WHERE condition (GDPR right-to-be-forgotten
        path). ``condition`` is a SQL string or Column.

        ``mode='cow'`` (default): copy-on-write with directory-level
        pruning — see :meth:`_cow_rewrite`. Write-amplified (touched
        dirs rewritten), read-clean.

        ``mode='mor'``: merge-on-read positional deletes (Iceberg v2
        delete-file analog) — writes ONLY a (file, row-position) delete
        file; no data is rewritten. Reads anti-join the broadcast
        position set until :meth:`rewrite_position_deletes` folds them
        in. The right tier for frequent small deletes over huge tables,
        where COW's write amplification dominates.

        ``mode='mor-eq'``: merge-on-read EQUALITY deletes (the Iceberg
        v2 Flink-CDC write shape, spec content=2) — writes only the
        DISTINCT ``equality_cols`` key tuples of the matching rows,
        with SEQUENCE-NUMBER semantics: the delete applies to rows in
        data files whose sequence (commit version) is STRICTLY LOWER
        than the delete's, so a row with a deleted key appended AFTER
        the delete survives — the upsert-stream contract CDC pipelines
        depend on. Note the key scope: the delete removes EVERY
        pre-delete row sharing a matching key, not only the rows the
        condition selected. O(keys) write; no position scan at all
        (cheaper to commit than ``mor`` when the keys are known —
        nothing reads the data at delete time).
        """
        if mode == "mor":
            return self._mor_delete(name, condition)
        if mode == "mor-eq":
            if not equality_cols:
                raise ValueError(
                    "mode='mor-eq' requires equality_cols (the key "
                    "columns the delete file carries)"
                )
            return self._mor_eq_delete(name, condition, list(equality_cols))
        if mode != "cow":
            raise ValueError(
                f"unknown delete mode {mode!r}: use cow|mor|mor-eq"
            )
        return self._cow_rewrite(
            name, condition, "delete",
            lambda touched_df, is_hit: touched_df.filter(~is_hit),
        )

    def _mor_delete(self, name: str, condition) -> dict:
        """Merge-on-read DELETE: commit a positional-delete file
        addressing the matching rows by (file path, row index); data
        dirs are untouched. O(matching rows) write instead of O(touched
        dirs) — deletes cost what they delete."""
        import shutil

        h, entries = self._entries(name)
        cond = F.expr(condition) if isinstance(condition, str) else condition
        is_hit = F.coalesce(cond, F.lit(False))
        positions = (
            self.read(name, with_lineage=True)
            .filter(is_hit)
            .select("_file", "_pos")
        )
        live = list(self._main_head(entries, name)["data_dirs"])
        # the version check pins the commit to len(entries), so the
        # delete dir is named before the lock is taken
        ddir = f"d{len(entries):05d}"
        affected = 0

        def change(locked):
            # one pass over the table: the write is the only job, and
            # the count comes from the footers of the files it wrote
            nonlocal affected
            positions.write.mode("overwrite").parquet(os.path.join(h.path, ddir))
            affected = self._footer_rows(h.path, ddir)
            if affected == 0:
                shutil.rmtree(os.path.join(h.path, ddir))
                return None
            base = self._main_head(locked, name)
            return base, {"delete_dirs": list(base.get("delete_dirs") or []) + [ddir]}

        self._meta_commit(h, "delete_mor", change, expected_version=len(entries))
        return {"table": name, "affected_rows": affected,
                "delete_dir": ddir if affected else None,
                "rewritten_dirs": [], "kept_dirs": live}

    # -- equality deletes (Iceberg v2 content=2) ----------------------------
    #
    # Manifest encoding: equality deletes ride in the SAME
    # ``delete_dirs`` list as positional ones, as dicts
    # ``{"dir": "eNNNNN", "cols": [...], "seq": N}`` next to the plain
    # string entries — every commit path that carries delete_dirs
    # forward (append, DDL, branch, clone, rollback) therefore carries
    # equality deletes too, with zero changes. Consumers split the two
    # kinds with the helpers below.

    @staticmethod
    def _dd_name(d) -> str:
        """Directory name of a delete_dirs entry (str or eq dict)."""
        return d if isinstance(d, str) else d["dir"]

    @staticmethod
    def _dd_split(ddirs: list) -> tuple[list[str], list[dict]]:
        """(positional delete dirs, equality delete records)."""
        pos = [d for d in ddirs if isinstance(d, str)]
        eq = [d for d in ddirs if isinstance(d, dict)]
        return pos, eq

    def _dir_seq(self, entries: list[dict], d: str) -> int:
        """Sequence number of data dir ``d``. ``vNNNNN`` basenames
        decode directly — for local dirs that is the commit version,
        and for cloned ``../src/vNNNNN`` dirs it is the SOURCE's
        version, which keeps a cloned equality delete (whose ``seq``
        is also in source-version space) correctly ordered against the
        dirs it shipped with. Other shapes fall back to the first
        version of this table whose snapshot contains the dir."""
        base = os.path.basename(d)
        if base.startswith("v"):
            try:
                return int(base[1:])
            except ValueError:
                pass
        for e in entries:
            if d in (e.get("data_dirs") or []):
                return e["version"]
        return -1  # unknown: conservatively older than any delete

    def _mor_eq_delete(
        self, name: str, condition, equality_cols: list[str]
    ) -> dict:
        """Merge-on-read equality DELETE: commit the distinct key
        tuples of the matching rows as an equality-delete file. See
        :meth:`delete_where` (mode='mor-eq') for semantics."""
        h, entries = self._entries(name)
        head = self._main_head(entries, name)
        have = {f["name"] for f in head["schema"]["fields"]}
        missing = [c for c in equality_cols if c not in have]
        if missing:
            raise ValueError(
                f"equality_cols {missing} not in {name}'s schema"
            )
        cond = F.expr(condition) if isinstance(condition, str) else condition
        is_hit = F.coalesce(cond, F.lit(False))
        from pyspark import StorageLevel

        # key sets are broadcast-sized by the MOR contract; persist so
        # the sizing count, the affected-rows probe, and the delete-file
        # write share ONE table scan instead of three
        keys = (
            self.read(name)
            .filter(is_hit)
            .select(*equality_cols)
            .distinct()
            .persist(StorageLevel.MEMORY_AND_DISK)
        )
        try:
            n_keys = keys.count()
            live = list(head["data_dirs"])
            if n_keys == 0:
                return {"table": name, "affected_rows": 0, "deleted_keys": 0,
                        "delete_dir": None, "rewritten_dirs": [],
                        "kept_dirs": live}
            # rows the delete will suppress: every CURRENT row sharing a
            # matching key (key scope, not condition scope)
            match = F.lit(True)
            probe = keys.select(
                *[F.col(c).alias(f"_k_{c}") for c in equality_cols]
            )
            for c in equality_cols:
                match = match & F.col(c).eqNullSafe(F.col(f"_k_{c}"))
            affected = (
                self.read(name)
                .join(F.broadcast(probe), match, "left_semi")
                .count()
            )
            version = len(entries)
            ddir = f"e{version:05d}"

            def change(locked):
                keys.coalesce(1).write.mode("overwrite").parquet(
                    os.path.join(h.path, ddir)
                )
                base = self._main_head(locked, name)
                rec = self._eq_delete_record(ddir, equality_cols, base, version)
                return base, {
                    "delete_dirs": list(base.get("delete_dirs") or []) + [rec]
                }

            self._meta_commit(h, "delete_mor_eq", change, expected_version=version)
            return {"table": name, "affected_rows": affected,
                    "deleted_keys": n_keys, "delete_dir": ddir,
                    "rewritten_dirs": [], "kept_dirs": live}
        finally:
            # also covers the concurrent-modification raise: the
            # persisted keys frame must never outlive the call
            keys.unpersist(blocking=False)

    def rewrite_position_deletes(self, name: str) -> dict:
        """Maintenance: fold accumulated merge-on-read deletes — both
        positional and equality files — into the data (Iceberg
        ``rewrite_position_delete_files`` / compaction analog): one
        replace commit of the merged view; subsequent reads pay no
        anti-joins. Run when the delete set grows past broadcast size."""
        h, entries = self._entries(name)
        ddirs = self._main_head(entries, name).get("delete_dirs") or []
        if not ddirs:
            return {"table": name, "delete_dirs_removed": 0}
        self._commit(h, self.read(name), op="rewrite_deletes", replace=True)
        return {"table": name, "delete_dirs_removed": len(ddirs)}

    def upsert_cdc(
        self,
        name: str,
        batch: DataFrame,
        key_cols: list[str],
        *,
        op_col: str = "_op",
        seq_col: str | None = None,
        properties_update: dict[str, str] | None = None,
    ) -> dict:
        """Streaming CDC upsert sink — the Flink-CDC/Debezium write
        shape, applied in ONE ATOMIC COMMIT: the distinct keys of the
        batch's update/delete images land as an equality-delete file
        (suppressing every PRE-batch row of those keys) and the
        insert/update row images land as the commit's data dir, whose
        sequence equals the delete's so the new images survive the
        strictly-lower rule. Cost is O(batch): no table scan, no join,
        no COW rewrite — the upsert tier that stays cheap when the
        table is 100 TB and the microbatch is a few thousand rows
        (``merge_into`` is the COW alternative that rewrites touched
        dirs; fold accumulated delete files with
        :meth:`rewrite_position_deletes` on a maintenance cadence).

        ``op_col`` values: ``I``/``insert``/``c`` (append only),
        ``U``/``update``/``u`` (delete old key + append image),
        ``D``/``delete``/``d`` (delete key, no image).

        ``seq_col`` enables WITHIN-BATCH key compaction (a batch
        carrying several changes for one key keeps only the
        highest-``seq_col`` image — e.g. the CDC log offset); without
        it the caller guarantees at most one change per key per batch,
        the standard ``foreachBatch`` contract. (Unlike
        :meth:`merge_into`, there is NO join here for statistics to
        steer — the eq-delete key file and image append are both
        O(batch) writes; the stats-driven broadcast-side selection
        lives on the merge path, where a join exists.) ``properties_update``
        merges into the table properties in the SAME commit — the
        transactional batch-id marker hook streaming sinks use.
        """
        h, entries = self._entries(name)
        head = self._main_head(entries, name)
        have = {f["name"] for f in head["schema"]["fields"]}
        missing = [c for c in key_cols if c not in have]
        if missing:
            # a key absent from the table would commit an INERT delete
            # (matches an all-NULL union-schema column) and every
            # update would silently duplicate — refuse like
            # _mor_eq_delete does
            raise ValueError(
                f"upsert_cdc: key_cols {missing} not in {name}'s schema"
            )
        op = F.lower(F.col(op_col).cast("string"))
        is_del = op.isin("d", "delete")
        is_upd = op.isin("u", "update")
        is_ins = op.isin("i", "insert", "c", "create")
        # coalesce: a NULL op must FAIL validation, not slip through the
        # negated predicate as NULL and then silently act as a delete
        bad = batch.filter(
            ~F.coalesce(is_del | is_upd | is_ins, F.lit(False))
        ).limit(1).count()
        if bad:
            raise ValueError(
                f"upsert_cdc: {op_col} values must be I/U/D "
                "(insert/update/delete), found NULL or unknown"
            )
        if seq_col is not None:
            from pyspark.sql import Window

            w = Window.partitionBy(*key_cols).orderBy(F.col(seq_col).desc())
            batch = (
                batch.withColumn("_cdc_rn", F.row_number().over(w))
                .filter(F.col("_cdc_rn") == 1)
                .drop("_cdc_rn")
            )
        from pyspark import StorageLevel

        batch = batch.persist(StorageLevel.MEMORY_AND_DISK)
        try:
            # every batch key is delete-listed — also for pure inserts:
            # an "insert" replayed at-least-once (stream retries) would
            # otherwise duplicate; listing the key makes the batch
            # key-idempotent at no extra cost (the key file is the same
            # O(batch) write either way)
            keys = batch.select(*key_cols)
            images = batch.filter(is_del == F.lit(False)).drop(op_col)
            if seq_col is not None and seq_col in images.columns:
                images = images.drop(seq_col)
            # one manifest load serves schema check, version, and the
            # property merge — a per-microbatch path must not re-parse
            # the O(versions) manifest several times
            version = len(entries)
            props = None
            if properties_update:
                props = {
                    **(head.get("properties") or {}),
                    **properties_update,
                }
            # expected_version CAS: the reported version is the one the
            # commit actually lands at, or the commit refuses under a
            # concurrent writer (same contract as _mor_eq_delete)
            self._commit(
                h,
                images,
                op="upsert_cdc",
                replace=False,
                properties=props,
                expected_version=version,
                extra_eq_delete=(keys, list(key_cols)),
            )
            # the commit wrote the distinct keys and the images: count
            # them from those files' footers instead of re-running the
            # batch plan
            return {
                "table": name,
                "version": version,
                "keys_deleted": self._footer_rows(h.path, f"e{version:05d}"),
                "rows_appended": self._footer_rows(h.path, f"v{version:05d}"),
            }
        finally:
            batch.unpersist(blocking=False)

    def update_where(
        self, name: str, condition, assignments: dict[str, object]
    ) -> dict:
        """UPDATE name SET assignments WHERE condition — copy-on-write
        twin of :meth:`delete_where`. ``assignments`` maps column name →
        SQL string or Column; non-matching rows in rewritten
        directories are preserved verbatim."""
        def build(touched_df, is_hit):
            cols = []
            for c in touched_df.columns:
                if c == "_cow_file":
                    cols.append(F.col(c))
                elif c in assignments:
                    v = assignments[c]
                    vcol = F.expr(v) if isinstance(v, str) else v
                    cols.append(
                        F.when(is_hit, vcol).otherwise(F.col(c)).alias(c)
                    )
                else:
                    cols.append(F.col(c))
            return touched_df.select(*cols)

        return self._cow_rewrite(name, condition, "update", build)

    def merge_into(
        self,
        name: str,
        source: DataFrame,
        on: list[str],
        *,
        when_matched: str | dict[str, object] = "update_all",
        when_matched_delete: object | None = None,
        insert_not_matched: bool = True,
        properties_update: dict[str, str] | None = None,
    ) -> dict:
        """MERGE INTO (Delta/Iceberg semantics) as copy-on-write at
        directory granularity — the upsert verb next to
        :meth:`delete_where` / :meth:`update_where`.

        Only directories holding MATCHED target rows are rewritten;
        source rows with no target match cannot, by construction, match
        rows in untouched dirs, so inserts ride in the same rewrite
        commit and every untouched dir carries forward unmodified.

        ``when_matched``: ``"update_all"`` replaces matched rows with
        the source row; a dict maps column → SQL string/Column
        (evaluated with target columns in scope and source columns as
        ``_s_<name>``). ``when_matched_delete``: optional SQL
        string/Column — matched rows satisfying it are deleted instead
        of updated. ``insert_not_matched=False`` makes it an
        update-only merge.

        Duplicate join keys in ``source`` raise (a target row matching
        two source rows is the Delta ``MERGE`` cardinality violation —
        nondeterministic which update wins).
        """
        h, entries = self._entries(name)
        # ONE job serves the cardinality check, the source-side
        # row-count stat, AND the measured avg length of string/binary
        # key columns (same shuffle the old dup-only check paid; the
        # global agg adds a 1-row stage). No stats exist for an
        # arbitrary source DataFrame, and a flat 24-byte guess for a
        # long-string key (URLs, composite text keys) under-reads by
        # 10-50x — enough to broadcast a key set the threshold was
        # meant to refuse (advisor r9).
        var_keys = [
            f.name
            for f in source.select(*on).schema.fields
            if f.dataType.simpleString() in ("string", "binary")
        ]
        krow = (
            source.groupBy(*on)
            .agg(F.count(F.lit(1)).alias("_dupn"))
            .agg(
                F.count(F.lit(1)).alias("_nkeys"),
                F.max("_dupn").alias("_maxdup"),
                *[
                    F.avg(F.length(F.col(c))).alias(f"_avglen_{i}")
                    for i, c in enumerate(var_keys)
                ],
            )
            .first()
        )
        n_src_keys = int(krow["_nkeys"] or 0)
        src_avg_len = {
            c: krow[f"_avglen_{i}"] for i, c in enumerate(var_keys)
        }
        if (krow["_maxdup"] or 0) > 1:
            raise ValueError(
                f"MERGE INTO {name}: source has duplicate keys on {on} — "
                "a matched target row would receive two updates"
            )
        head = self._main_head(entries, name)
        tcols = [f["name"] for f in head["schema"]["fields"]]
        src = source.select(
            *[F.col(c).alias(f"_s_{c}") for c in source.columns]
        )
        src_key_cols = [f"_s_{c}" for c in on]
        # eqNullSafe THROUGHOUT: the merge join itself is null-safe, so
        # hit-file detection and the stats joins must be too — a
        # name-based equality join would never match NULL keys, leaving
        # a NULL-key target row's dir untouched while the merge inserts
        # the source row (a duplicate under the documented semantics)
        key_cond = functools.reduce(
            lambda a, b: a & b,
            [F.col(c).eqNullSafe(F.col(f"_s_{c}")) for c in on],
        )
        tgt = (
            self.read(name, with_lineage=True)
            .withColumnRenamed("_file", "_cow_file")
            .drop("_pos")
        )
        # STATS-DRIVEN broadcast side for hit-file detection (the old
        # code broadcast the source keys unconditionally — a 100 GB
        # backfill merge would ship its whole key set to the driver).
        # Source key-set size = the EXACT key count from the
        # cardinality-check job above × schema key widths (Catalyst
        # prices local relations at Long.MAX = useless here); target
        # key-set size from the manifest row stats × key widths
        # (estimated_size_bytes). Whichever fits the auto-broadcast
        # threshold broadcasts; neither fits → plain shuffle semi join
        # and AQE takes over.
        thr = self._broadcast_threshold()
        src_keys = src.select(*src_key_cols)
        key_width = 8.0
        for f in source.select(*on).schema.fields:
            t = f.dataType.simpleString()
            if f.name in src_avg_len:
                # measured in the cardinality job; +4 length header
                # (same pricing as estimated_size_bytes' sidecar path);
                # all-NULL key column → avg is None → minimal width
                avg = src_avg_len[f.name]
                key_width += (float(avg) + 4.0) if avg is not None else 8.0
            else:
                key_width += self._TYPE_WIDTH.get(
                    t, 16 if t.startswith("decimal") else 24
                )
        est_src = int(n_src_keys * key_width)
        # key cols + the ~100-byte lineage path that rides along
        est_tgt = self.estimated_size_bytes(
            name, columns=list(on), extra_row_bytes=100.0
        )
        if thr > 0 and est_src <= thr:
            hit_probe = "broadcast_source"
            hits = tgt.join(F.broadcast(src_keys), key_cond, "left_semi")
        elif thr > 0 and est_tgt is not None and est_tgt <= thr:
            hit_probe = "broadcast_target"
            hits = (
                src_keys.join(
                    F.broadcast(tgt.select(*on, "_cow_file")),
                    key_cond,
                    "inner",
                )
            )
        else:
            hit_probe = "shuffle"
            hits = tgt.join(src_keys, key_cond, "left_semi")
        hit_files = [
            r["_cow_file"]
            for r in hits.select("_cow_file").distinct().collect()
        ]
        touched, kept, in_touched = self._touched_dirs(
            h, head["data_dirs"], hit_files
        )
        touched_rows = tgt.filter(in_touched).drop("_cow_file")

        # explicit presence markers: key columns may legally be NULL
        # (eqNullSafe join), so side presence can't be inferred from
        # key nullness
        joined = touched_rows.withColumn("_t_present", F.lit(True)).join(
            src.withColumn("_s_present", F.lit(True)), key_cond, "full_outer"
        )
        has_target = F.col("_t_present").isNotNull()
        has_source = F.col("_s_present").isNotNull()
        matched = has_target & has_source

        if when_matched == "update_all":
            upd = {
                c: F.col(f"_s_{c}") for c in tcols if f"_s_{c}" in joined.columns
            }
        else:
            upd = {
                c: (F.expr(v) if isinstance(v, str) else v)
                for c, v in when_matched.items()
            }
        del_cond = None
        if when_matched_delete is not None:
            del_cond = (
                F.expr(when_matched_delete)
                if isinstance(when_matched_delete, str)
                else when_matched_delete
            )

        out_cols = []
        for c in tcols:
            src_c = F.col(f"_s_{c}") if f"_s_{c}" in joined.columns else F.lit(None)
            updated = upd.get(c, F.col(c))
            out_cols.append(
                F.when(matched, updated)
                .when(has_target, F.col(c))  # not matched by source
                .otherwise(src_c)  # insert
                .alias(c)
            )
        result = joined
        if del_cond is not None:
            result = result.filter(~(matched & F.coalesce(del_cond, F.lit(False))))
        if not insert_not_matched:
            result = result.filter(has_target)
        result = result.select(*out_cols)

        maybe_bsrc = (
            F.broadcast(src.select(*src_key_cols))
            if hit_probe == "broadcast_source"
            else src.select(*src_key_cols)
        )
        n_matched = touched_rows.join(maybe_bsrc, key_cond, "left_semi").count()
        n_insert = (
            src.select(*src_key_cols)
            .join(tgt.select(*on), key_cond, "left_anti")
            .count()
            if insert_not_matched
            else 0
        )
        props = None
        if properties_update:
            props = {**self.table_properties(name), **properties_update}
        self._commit(
            h, result, op="merge", replace=True, base_dirs=kept,
            expected_version=len(entries), properties=props,
        )
        return {
            "table": name,
            "matched_rows": n_matched,
            "inserted_rows": n_insert,
            "rewritten_dirs": touched,
            "kept_dirs": kept,
            "hit_probe": hit_probe,
        }

    def _broadcast_threshold(self) -> int:
        """Parsed ``spark.sql.autoBroadcastJoinThreshold`` in bytes
        (≤ 0 = broadcasting disabled — respected by the merge probe)."""
        try:
            v = str(
                self.spark.conf.get(
                    "spark.sql.autoBroadcastJoinThreshold", "10485760"
                )
            ).strip().lower()
        except Exception:
            return 10 * 1024 * 1024
        mult = 1
        for suf, m in (
            ("kb", 1024), ("mb", 1024**2), ("gb", 1024**3),
            ("k", 1024), ("m", 1024**2), ("g", 1024**3), ("b", 1),
        ):
            if v.endswith(suf):
                v, mult = v[: -len(suf)], m
                break
        try:
            return int(float(v)) * mult
        except ValueError:
            return 10 * 1024 * 1024


    def clone_table(
        self, source: str, target: str, *, version: int | None = None
    ) -> TableHandle:
        """SHALLOW CLONE (Delta analog): a NEW table whose first
        snapshot references the SOURCE's data dirs — zero data
        movement. The clone evolves independently (its appends/DML land
        in its own dirs; the shared dirs are immutable by the
        append-only design, so neither table can disturb the other).

        Caveat, stated loudly: the clone's shared dirs live under the
        source table's path, so `expire_snapshots` on the SOURCE can
        reclaim dirs a clone still references — same as Delta shallow
        clones (VACUUM on the source breaks them). Re-materialize with
        `compact(clone)` to cut the dependency."""
        src_h, entries = self._entries(source)
        if self.table_exists(target):
            raise ValueError(f"table {target} already exists")
        base = (
            entries[version]
            if version is not None
            else self._branch_head(entries, None)
        )
        if base is None or base.get("expired"):
            raise ValueError(f"no usable snapshot of {source} to clone")
        tgt = self._handle(target)
        rel = os.path.relpath(src_h.path, tgt.path)
        # per-dir writer metadata travels WITH the clone: the normal
        # reader resolves a dir's writer schema/stats from its own
        # manifest entry index, which foreign dirs don't have
        dir_meta = {}
        for d in base["data_dirs"]:
            we = entries[int(d[1:])]
            dir_meta[os.path.join(rel, d)] = {
                k: we.get(k)
                for k in ("schema", "written_fields", "stats")
            }
        fields = {
            "cloned_from": f"{source}@v{base['version']}",
            "data_dirs": list(dir_meta),
            # equality deletes pin their coverage to a FIXED dir list at
            # clone time ("applies_to"): the delete's seq lives in SOURCE
            # version space while clone-local appends number from 0, so
            # a cross-space strictly-lower comparison would wrongly
            # suppress rows appended to the clone AFTER the delete. The
            # applicable set — cloned dirs with source seq below the
            # delete's — is closed at clone time and never grows.
            "delete_dirs": [
                self._clone_dd(d, rel, base, entries)
                for d in (base.get("delete_dirs") or [])
            ],
            "dir_meta": dir_meta,
        }
        # expected_version=0: the commit creates the target, and a
        # concurrent create of the same name fails it
        return self._meta_commit(
            tgt, "clone", lambda _: (base, fields), expected_version=0
        )

    @staticmethod
    def _eq_delete_record(
        edir: str, cols: list[str], base: dict | None, seq: int
    ) -> dict:
        """The delete_dirs record of a NEW equality delete in ``edir``
        on snapshot ``base``: key columns, their stable field ids (in
        ``cols`` order, so reads resolve them through renames) and the
        sequence number.

        A snapshot containing FOREIGN dirs (clones: ``../src/vNNNNN``)
        cannot rely on the strictly-lower sequence rule — those dirs
        decode in their SOURCE's version space while this delete's seq
        is local, and a cross-space comparison silently mis-scopes. The
        coverage is then pinned to the exact pre-delete snapshot
        (``applies_to`` — semantically identical: every current dir IS
        pre-delete, every later commit is post-delete). All-local
        snapshots keep the O(1)-per-record seq comparison."""
        fids = {
            f["name"]: (f.get("metadata") or {}).get("field_id")
            for f in (base["schema"]["fields"] if base else [])
        }
        rec = {
            "dir": edir,
            "cols": list(cols),
            "field_ids": [fids.get(c) for c in cols],
            "seq": seq,
        }
        dirs = list(base["data_dirs"]) if base else []
        # {5,}: version 100000 renders as 'v100000' (6 digits) and must
        # still classify as local, matching _dir_seq's int parse
        if any(not re.fullmatch(r"v\d{5,}", d) for d in dirs):
            rec["applies_to"] = dirs
        return rec

    def _clone_dd(self, d, rel: str, base: dict, entries: list[dict]):
        """Rebase one delete_dirs entry for a clone. Strings (positional
        dirs) just get the relative prefix. Equality records ALSO pin
        their coverage to a fixed ``applies_to`` dir list: the delete's
        seq lives in SOURCE version space while clone-local appends
        number from 0, so a cross-space strictly-lower comparison would
        wrongly suppress rows appended to the clone AFTER the delete.
        A record that already carries ``applies_to`` (clone of a clone)
        has its list rebased, never recomputed."""
        if isinstance(d, str):
            return os.path.join(rel, d)
        out = {**d, "dir": os.path.join(rel, d["dir"])}
        if "applies_to" in d:
            out["applies_to"] = [
                os.path.join(rel, a) for a in d["applies_to"]
            ]
        else:
            out["applies_to"] = [
                os.path.join(rel, dd)
                for dd in base["data_dirs"]
                if self._dir_seq(entries, dd) < int(d["seq"])
            ]
        return out

    @staticmethod
    def _writer_entry(entries: list[dict], entry: dict, d: str) -> dict:
        """Resolve the manifest entry that WROTE dir ``d``: local
        ``vNNNNN`` dirs index their own manifest; foreign (cloned) dirs
        carry their writer metadata in the referencing entry's
        ``dir_meta``."""
        try:
            return entries[int(d[1:])]
        except (ValueError, IndexError):
            pass
        for e in entries:
            meta = (e.get("dir_meta") or {}).get(d)
            if meta:
                return meta
        return entry

    def rollback(self, name: str, version: int) -> TableHandle:
        """Iceberg ``rollback_to_snapshot`` analog: make ``version``
        current again by committing a NEW version that references its
        data (and delete) dirs — history stays linear, the audit trail
        of the undone commits is preserved, and time travel to them
        still works. Zero data movement: only the manifest flips."""

        def change(entries):
            target = entries[version]
            if target.get("expired"):
                raise ValueError(
                    f"version {version} of {name} has been expired; "
                    "cannot roll back to it"
                )
            return target, {}

        return self._meta_commit(self._handle(name), "rollback", change)

    def remove_orphan_files(
        self,
        name: str,
        *,
        older_than_hours: float = 24.0,
        dry_run: bool = False,
    ) -> dict:
        """Iceberg ``remove_orphan_files`` analog: reclaim snapshot
        directories that NO manifest entry references — the debris of
        writes that crashed between ``writer.save()`` and the manifest
        flip (the commit protocol writes data first, so a crash leaks a
        fully-written dir with no manifest entry; :meth:`expire_snapshots`
        never touches those because it only walks referenced dirs out of
        retention).

        ``older_than_hours`` is the safety margin against IN-FLIGHT
        writes: a concurrent commit's dir exists before its manifest
        entry does, so only dirs whose newest file is older than the
        cutoff qualify (Iceberg ships the same default for the same
        race). ``dry_run`` lists without deleting."""
        import shutil

        with self._commit_lock(self._handle(name)):
            h, entries = self._entries(name)
            referenced: set[str] = set()
            for e in entries:
                for d in e.get("data_dirs") or []:
                    referenced.add(os.path.normpath(os.path.join(h.path, d)))
                for d in e.get("delete_dirs") or []:
                    referenced.add(
                        os.path.normpath(
                            os.path.join(h.path, self._dd_name(d))
                        )
                    )
            cutoff = time.time() - older_than_hours * 3600.0
            orphans: list[str] = []
            bytes_total = 0
            for d in sorted(os.listdir(h.path)):
                full = os.path.join(h.path, d)
                if not os.path.isdir(full):
                    continue  # manifest/tags/lock files
                if os.path.normpath(full) in referenced:
                    continue
                size, newest = _tree_bytes(full)
                if newest > cutoff:
                    continue
                bytes_total += size
                orphans.append(d)
                if not dry_run:
                    shutil.rmtree(full)
        return {
            "table": name,
            "orphan_dirs": orphans,
            "bytes_reclaimed": bytes_total,
            "dry_run": dry_run,
        }

    def maintain(
        self,
        name: str,
        *,
        target_file_bytes: int = 128 * 1024 * 1024,
        min_files_to_compact: int = 8,
        small_file_ratio: float = 0.5,
        max_delete_files: int = 4,
        expire_keep_last: int | None = None,
        expire_older_than: str | None = None,
        orphan_older_than_hours: float | None = None,
        ann_rebuild_after_drifted_adds: int | None = None,
        ann_source: "DataFrame | None" = None,
        dry_run: bool = False,
    ) -> dict:
        """ONE table-service sweep — the scheduled maintenance loop an
        Iceberg/Delta platform runs per table, with the DECISIONS made
        from metadata only (parquet footer stats via :meth:`files`,
        manifest delete records, snapshot list): the data is never
        scanned to decide, only to act.

        Policy, in order:

        1. **Compact** when the live file count reaches
           ``min_files_to_compact`` AND at least ``small_file_ratio``
           of the files are under ``target_file_bytes/2`` — the
           small-file regime where scan cost is per-file overhead, not
           bytes. A full compaction also folds every MOR delete file
           (the replace commit starts clean), so step 2 is skipped.
        2. **Fold MOR deletes** (:meth:`rewrite_position_deletes`) when
           the accumulated positional+equality delete files exceed
           ``max_delete_files`` — bounding the per-read anti-join
           chain a CDC-upsert stream grows one commit at a time.
        3. **Expire snapshots** when a retention is given
           (``expire_keep_last`` / ``expire_older_than``) — the op
           that bounds the storage bill at scale.
        4. **Remove orphan files** when ``orphan_older_than_hours`` is
           given and unreferenced dirs older than the margin exist —
           the crash-debris sweep (:meth:`remove_orphan_files`) expiry
           can never reach because it only walks referenced dirs.
        5. **Rebuild a drifted ANN index** when
           ``ann_rebuild_after_drifted_adds`` is given, the table is an
           IVF-PQ index, and its ``index.drift_consecutive`` property
           (maintained atomically by ``add_to_ivf_pq_index``: the
           number of CONSECUTIVE delta adds whose unexplained
           residual-energy fraction exceeded the drift factor ×
           build-time holdout baseline) has reached the threshold —
           the FAISS retrain cadence, decided from recorded drift
           statistics instead of a wall-clock guess. The rebuild
           source is ``ann_source`` (a vectors DataFrame) or, absent
           that, the catalog table named by the index's
           ``index.source_table`` property; with neither, the action
           is recorded as recommended-but-skipped so a scheduler can
           alert. The rebuild re-runs ``build_ivf_pq_index`` with the
           recipe recorded in the index properties (k/m/nbits/seed/
           sample_size) in ``mode="replace"``, which resets the drift
           counter and re-baselines.

        ``dry_run`` reports the decisions (with reasons and the stats
        behind them) without acting — the review mode a scheduler dag
        runs first. Returns ``{"table", "stats", "actions": [...]}``;
        each action carries its reason and, when executed, the
        underlying op's report.
        """
        h, entries = self._entries(name)
        head = self._main_head(entries, name)
        # byte sizes straight from the filesystem walk: the compaction
        # decision needs no parquet footers and no Spark job (files()
        # reads num_rows per footer — O(files) I/O a per-tick sweep
        # must not pay)
        sizes = [f.bytes for f in snapshot_files(h.path, head["data_dirs"])]
        n_files = len(sizes)
        n_small = sum(1 for b in sizes if b < target_file_bytes // 2)
        n_deletes = len(head.get("delete_dirs") or [])
        stats = {
            "n_files": n_files,
            "n_small_files": n_small,
            "small_ratio": round(n_small / n_files, 3) if n_files else 0.0,
            "n_delete_files": n_deletes,
            "n_snapshots": len(entries),
        }
        actions: list[dict] = []
        do_compact = (
            n_files >= min_files_to_compact
            and n_files > 0
            and (n_small / n_files) >= small_file_ratio
        )
        if do_compact:
            a = {
                "action": "compact",
                "reason": (
                    f"{n_small}/{n_files} files under "
                    f"{target_file_bytes // 2} bytes (ratio "
                    f"{n_small / n_files:.2f} >= {small_file_ratio})"
                    + (
                        f"; also folds {n_deletes} MOR delete file(s)"
                        if n_deletes
                        else ""
                    )
                ),
            }
            if not dry_run:
                a["result"] = self.compact(
                    name, target_file_bytes=target_file_bytes
                )
            actions.append(a)
        elif n_deletes > max_delete_files:
            a = {
                "action": "rewrite_position_deletes",
                "reason": (
                    f"{n_deletes} MOR delete files > "
                    f"max_delete_files={max_delete_files}"
                ),
            }
            if not dry_run:
                a["result"] = self.rewrite_position_deletes(name)
            actions.append(a)
        if expire_keep_last is not None or expire_older_than is not None:
            a = {
                "action": "expire_snapshots",
                "reason": (
                    f"retention keep_last={expire_keep_last} "
                    f"older_than={expire_older_than}"
                ),
            }
            if not dry_run:
                a["result"] = self.expire_snapshots(
                    name,
                    # pass an explicit 0 through so expire_snapshots'
                    # keep_last >= 1 validation surfaces instead of
                    # silently applying a different policy than logged
                    keep_last=(
                        expire_keep_last if expire_keep_last is not None else 1
                    ),
                    older_than=expire_older_than,
                )
            actions.append(a)
        if orphan_older_than_hours is not None:
            # ONE filesystem walk: act directly (probe under dry_run)
            # and derive the recorded reason from that same call's
            # result. The old probe-then-act pair walked twice, so a
            # dir aging past the safety margin BETWEEN the walks made
            # the logged count/bytes disagree with what was actually
            # reclaimed (advisor r8).
            res = self.remove_orphan_files(
                name,
                older_than_hours=orphan_older_than_hours,
                dry_run=dry_run,
            )
            if res["orphan_dirs"]:
                a = {
                    "action": "remove_orphan_files",
                    "reason": (
                        f"{len(res['orphan_dirs'])} unreferenced dir(s) "
                        f"older than {orphan_older_than_hours}h "
                        f"({res['bytes_reclaimed']} bytes of crash "
                        "debris no snapshot references)"
                    ),
                }
                if not dry_run:
                    a["result"] = res
                actions.append(a)
        if ann_rebuild_after_drifted_adds is not None:
            # re-read: earlier sweep steps (compact/fold) may have
            # committed since ``head`` was captured
            props = self.table_properties(name)
            consec = int(props.get("index.drift_consecutive", "0"))
            if (
                props.get("index.kind") == "ivf_pq"
                and consec >= int(ann_rebuild_after_drifted_adds)
            ):
                a = {
                    "action": "rebuild_ivf_pq_index",
                    "reason": (
                        f"{consec} consecutive drifted adds >= "
                        f"{ann_rebuild_after_drifted_adds} "
                        f"(last_add_rel="
                        f"{props.get('index.last_add_rel', '?')} vs "
                        f"baseline_rel="
                        f"{props.get('index.baseline_rel', '?')})"
                    ),
                }
                src_table = props.get("index.source_table")
                if ann_source is None and not src_table:
                    a["skipped"] = (
                        "rebuild recommended but no source: pass "
                        "ann_source or build the index with "
                        "source_table recorded"
                    )
                elif "index.m" not in props:
                    # indexes built before the rebuild-recipe properties
                    # were recorded lack the PQ shape — reachable with
                    # ann_rebuild_after_drifted_adds=0 (a missing
                    # drift counter defaults to 0). Record, don't raise
                    # mid-sweep.
                    a["skipped"] = (
                        "rebuild recommended but the index predates "
                        "recorded recipe properties (index.m missing): "
                        "rebuild once manually with build_ivf_pq_index "
                        "to re-record them"
                    )
                elif not dry_run:
                    from data_lakehouse_spark.operators.similarity import (
                        build_ivf_pq_index,
                    )

                    src_df = (
                        ann_source
                        if ann_source is not None
                        else self.read(src_table)
                    )
                    build_ivf_pq_index(
                        self,
                        src_df,
                        name,
                        vec_col=props.get("index.vec_col", "embedding"),
                        id_col=props.get("index.id_col", "vec_id"),
                        k=int(props.get("index.k", "16")),
                        m=int(props["index.m"]),
                        nbits=int(props.get("index.nbits", "8")),
                        seed=int(props.get("index.seed", "7")),
                        max_iter=int(props.get("index.max_iter", "20")),
                        sample_size=int(
                            props.get("index.sample_size", "65536")
                        ),
                        mode="replace",
                        source_table=src_table,
                    )
                    newp = self.table_properties(name)
                    a["result"] = {
                        "rebuilt": True,
                        "baseline_rel": newp.get("index.baseline_rel"),
                        "drift_consecutive": newp.get(
                            "index.drift_consecutive"
                        ),
                    }
                actions.append(a)
        return {
            "table": name,
            "dry_run": dry_run,
            "stats": stats,
            "actions": actions,
        }

    def expire_snapshots(
        self,
        name: str,
        *,
        keep_last: int = 1,
        older_than: str | None = None,
    ) -> dict:
        """VACUUM / expire_snapshots: reclaim storage held only by old
        versions (Iceberg ``expire_snapshots`` / Delta ``VACUUM`` analog).

        Every commit keeps prior data dirs alive for time travel; at
        100 TB that history IS the storage bill, so expiry is the
        maintenance op that bounds it. The last ``keep_last`` MAIN-
        lineage versions stay fully readable; ``older_than`` (UTC
        ``YYYY-mm-dd HH:MM:SS``, Iceberg's timestamp retention) ALSO
        retains every version committed at or after that instant —
        retention is the union, so a time window can keep more than
        ``keep_last`` but never expire the head. Expired versions raise
        a clear error on time travel; any data dir no retained version
        references is deleted. The manifest flips atomically, so
        concurrent readers of retained versions are unaffected.
        """
        import shutil

        if keep_last < 1:
            raise ValueError("keep_last must be >= 1")
        # under the commit lock: a commit landing between the manifest
        # load and the save would lose its entry, and its fresh dir
        # (unreferenced by the stale manifest) would be deleted
        with self._commit_lock(self._handle(name)):
            h, entries = self._entries(name)
            # retention contracts: tagged snapshots and live branch entries
            # stay readable (and keep their dirs) regardless of keep_last —
            # drop the tag/branch to release them
            protected = set(self._load_tags(h).values())
            protected |= {
                e["version"]
                for e in entries
                if e.get("branch") and not e.get("branch_dropped")
            }
            # the retention window counts MAIN-lineage snapshots, not raw
            # manifest positions: branch commits land at the tail, so
            # entries[-keep_last:] could be entirely branch entries and the
            # still-live main head would be expired out from under default
            # reads. The main head is always retained by construction
            # (it is the last element of main_entries).
            main_entries = [e for e in entries if "branch" not in e]
            retained_versions = {
                e["version"] for e in main_entries[-keep_last:]
            } | protected
            if older_than is not None:
                retained_versions |= {
                    e["version"]
                    for e in main_entries
                    if e["committed_at"] >= older_than
                }
            retained = [entries[v] for v in sorted(retained_versions)]
            keep_dirs = {d for e in retained for d in e["data_dirs"]}
            keep_dirs |= {
                self._dd_name(d)
                for e in retained
                for d in (e.get("delete_dirs") or [])
            }
            expired_versions = 0
            for e in entries:
                if e["version"] in retained_versions:
                    continue
                if not e.get("expired"):
                    e["expired"] = True
                    expired_versions += 1
            bytes_reclaimed = 0
            dirs_deleted = 0
            for d in sorted(os.listdir(h.path)):
                full = os.path.join(h.path, d)
                if not os.path.isdir(full) or d in keep_dirs:
                    continue
                bytes_reclaimed += _tree_bytes(full)[0]
                shutil.rmtree(full)
                dirs_deleted += 1
            self._save_manifest(h, entries)
        return {
            "table": name,
            "versions_expired": expired_versions,
            "dirs_deleted": dirs_deleted,
            "bytes_reclaimed": bytes_reclaimed,
        }

    # -- reads -------------------------------------------------------------
    def read(
        self,
        name: str,
        *,
        version: int | None = None,
        as_of: str | None = None,
        branch: str | None = None,
        tag: str | None = None,
        prune: dict[str, tuple] | None = None,
        prune_eq: dict[str, object] | None = None,
        with_lineage: bool = False,
    ) -> DataFrame:
        """Scan the table, optionally VERSION AS OF (time travel) or
        TIMESTAMP AS OF (``as_of``, UTC ``YYYY-mm-dd HH:MM:SS`` —
        resolves to the last published snapshot committed at or before
        that instant). Default reads return the latest PUBLISHED
        snapshot — staged WAP commits are invisible until
        :meth:`publish` (audit them with an explicit ``version=``).

        ``prune`` enables MANIFEST-LEVEL data skipping (the Iceberg
        manifest-metrics analog): ``{col: (lo, hi)}`` drops whole
        snapshot directories whose footer-aggregated [min, max] for
        ``col`` cannot intersect [lo, hi] (either bound may be None) —
        before any file listing or parquet footer open. The caller must
        still apply the row filter: pruning only guarantees that
        SKIPPED dirs contain no row matching ``col BETWEEN lo AND hi``
        (NULLs never match a range predicate, so NULL-bearing dirs may
        be skipped too). Timestamps compare as their ``str()`` ISO
        rendering. Dirs from legacy entries without stats are kept.

        ``prune_eq`` is the POINT-LOOKUP tier: ``{col: value}`` skips
        dirs by BOTH the min/max range (lo = hi = value) and the
        dir-level bloom sidecar written when the table carries
        ``bloom.columns`` in its properties — the structure that still
        prunes when the key is hash-like and every dir's [min, max]
        spans the whole domain. Same contract as ``prune``: the caller
        still applies the row filter; skipped dirs provably contain no
        row with ``col = value`` (up to bloom false positives, which
        only KEEP extra dirs, never skip live ones).
        """
        h, entries = self._entries(name)
        if sum(x is not None for x in (version, tag, branch)) > 1:
            raise ValueError("version=, tag= and branch= are mutually exclusive")
        if tag is not None:
            tags = self._load_tags(h)
            if tag not in tags:
                raise ValueError(f"tag {tag!r} does not exist on {name}")
            version = tags[tag]
        if version is not None:
            entry = entries[version]
        elif branch is not None:
            entry = self._branch_head(entries, branch)
            if entry is None:
                raise ValueError(f"branch {branch!r} does not exist on {name}")
        else:
            candidates = [
                e
                for e in entries
                if not e.get("staged") and "branch" not in e
            ]
            if as_of is not None:
                candidates = [
                    e for e in candidates if e["committed_at"] <= as_of
                ]
                if not candidates:
                    raise ValueError(
                        f"no snapshot of {name} existed at or before {as_of}"
                    )
            if not candidates:
                raise ValueError(f"table {name} has no published snapshot")
            entry = candidates[-1]
        if entry.get("expired"):
            raise ValueError(
                f"version {entry['version']} of {name} has been expired "
                "(expire_snapshots); time travel to it is no longer possible"
            )
        eq_ranges = {c: (v, v) for c, v in (prune_eq or {}).items()}
        if prune_eq:
            col_types = {
                f["name"]: (
                    f["type"]
                    if isinstance(f["type"], str)
                    else json.dumps(f["type"])
                )
                for f in entry["schema"]["fields"]
            }
        else:
            col_types = {}
        # probe positions are resolved per-dir against each sidecar's
        # recorded build type (cached per distinct type) — see
        # _bloom_might_contain
        bloom_cache: dict = {}
        dirs = []
        for d in entry["data_dirs"]:
            wentry = self._writer_entry(entries, entry, d)
            if prune and self._dir_prunable(wentry.get("stats"), prune):
                continue
            if eq_ranges and self._dir_prunable(wentry.get("stats"), eq_ranges):
                continue
            if prune_eq and any(
                not self._bloom_might_contain(
                    os.path.join(h.path, d), c, v,
                    col_types.get(c, "string"), bloom_cache,
                )
                for c, v in prune_eq.items()
            ):
                continue
            dirs.append(d)
        pos_dirs, eq_recs = self._dd_split(entry.get("delete_dirs") or [])
        lineage = with_lineage or bool(pos_dirs) or self._eq_scoped_by_file(eq_recs)
        df = self._project_dirs(
            h, entries, entry, dirs, lineage=lineage, with_seq=bool(eq_recs)
        )
        if pos_dirs:
            # merge-on-read: subtract positional deletes. The delete set
            # broadcasts while its on-disk bytes fit the threshold —
            # position files are small relative to data (that's the
            # point of MOR); when a stream has accumulated past it,
            # shuffle + AQE take over (and rewrite_position_deletes
            # folds them on the maintenance cadence).
            pos = self._read_positions(h, pos_dirs)
            thr = self._broadcast_threshold()
            if 0 < sum(
                self._dir_bytes(h, d) for d in pos_dirs
            ) <= thr:
                pos = F.broadcast(pos)
            df = df.join(
                pos,
                ["_file", "_pos"],
                "left_anti",
            )
        if eq_recs:
            df = self._apply_eq_deletes(h, entry, df, eq_recs).drop("_eq_seq")
        if lineage and not with_lineage:
            df = df.drop("_file", "_pos")
        self._evict_outside(h, entry)
        return df

    def _apply_eq_deletes(
        self,
        h: TableHandle,
        entry: dict,
        df: DataFrame,
        eq_recs: list[dict],
    ) -> DataFrame:
        """Merge-on-read equality deletes (Iceberg v2 content=2
        semantics): each delete's broadcast key set anti-joins
        null-safe on its equality columns, restricted to rows whose
        data dir's sequence (commit version) is STRICTLY LOWER than
        the delete's — rows appended after the delete survive. ``df``
        comes from ``_project_dirs(..., with_seq=True)``: every row
        carries its dir's sequence as the ``_eq_seq`` literal of its
        union part, so no per-row path test decides it (and
        ``_file`` lineage is needed only for cloned records, see
        :meth:`_eq_scope`). Equality columns are recorded by stable
        field id at delete time, so reads resolve them through
        renames. The result keeps ``_eq_seq``; callers drop it.

        STATS-DRIVEN broadcast: each delete's key set broadcasts only
        while its on-disk bytes fit the auto-broadcast threshold (the
        same file-size yardstick Spark's own relation sizing uses) — a
        CDC stream that accumulated a huge eq-delete set between
        maintenance folds must not ship it to every task; past the
        threshold the anti-join falls back to shuffle and AQE plans
        it."""
        thr = self._broadcast_threshold()
        for rec in eq_recs:
            dels, keys_cond = self._eq_keys(h, entry, rec)
            if 0 < self._dir_bytes(h, rec["dir"]) <= thr:
                dels = F.broadcast(dels)
            df = df.join(
                dels,
                self._eq_scope(h, rec) & keys_cond,
                "left_anti",
            )
        return df

    def _dir_bytes(self, h: TableHandle, d: str) -> int:
        """On-disk bytes of one table dir (metadata-only walk), cached
        per dir stamp — committed dirs never change, and the read path
        sizes its broadcast hints from every delete dir on every read
        (compaction sizes its output from the data dirs)."""
        return self._dir_cached(
            h, d, ("bytes",),
            lambda: sum(f.bytes for f in snapshot_files(h.path, [d])),
        )

    def _dir_cached(self, h: TableHandle, d: str, variant: tuple, build):
        """``build()`` for snapshot dir ``d`` of table ``h``, resolved
        once per dir stamp and ``variant``.

        A committed dir is immutable, so a scan frame or byte total
        built from it stays valid while the dir is the same directory:
        the key is ``(normpath, st_ino, st_mtime_ns, variant)``. A table
        dropped and recreated under the same name — by this catalog or
        by another process — writes new dirs with new stamps and is
        never served the old frames; a missing dir builds uncached, so
        the reader raises exactly as it would without the cache. Two
        threads missing the same key both build (the lock only guards
        the dict), which costs a duplicate frame, never a wrong one."""
        path = os.path.normpath(os.path.join(h.path, d))
        try:
            st = os.stat(path)
        except OSError:
            return build()
        key = (path, st.st_ino, st.st_mtime_ns, variant)
        table = os.path.normpath(h.path)
        with self._scan_lock:
            hit = self._scan_cache.get(table, {}).get(key)
        if hit is not None:
            return hit
        value = build()
        with self._scan_lock:
            cached = self._scan_cache.setdefault(table, {})
            # the same path under an older stamp is a dir that was
            # replaced (table recreated elsewhere): its frames are dead
            for k in [k for k in cached if k[0] == path and k[1:3] != key[1:3]]:
                del cached[k]
            cached[key] = value
        return value

    def _evict_outside(self, h: TableHandle, entry: dict) -> None:
        """Bound the scan cache after a read resolved snapshot ``entry``:
        drop the table's cached values for dirs outside the snapshot,
        and data frames projected to a schema other than its own (left
        behind by an ALTER)."""
        keep = {
            os.path.normpath(os.path.join(h.path, self._dd_name(d)))
            for d in entry["data_dirs"] + list(entry.get("delete_dirs") or [])
        }
        schema = self._schema_key(entry)
        with self._scan_lock:
            cached = self._scan_cache.get(os.path.normpath(h.path), {})
            for k in [
                k
                for k in cached
                if k[0] not in keep or (k[3][0] == "data" and k[3][1] != schema)
            ]:
                del cached[k]

    @staticmethod
    def _schema_key(entry: dict) -> str:
        return json.dumps(entry["schema"], sort_keys=True)

    def _eq_scope(self, h: TableHandle, rec: dict):
        """Row-scope condition of one equality delete: for local
        records, the spec's strictly-lower sequence rule on the
        ``_eq_seq`` column; for cloned records, membership in the
        ``applies_to`` dir list fixed at clone time (the delete's seq
        lives in the SOURCE's version space — see _clone_dd)."""
        ap = rec.get("applies_to")
        if ap is None:
            return F.col("_eq_seq") < F.lit(int(rec["seq"]))
        return _in_dirs("_file", [os.path.join(h.path, d) for d in ap])

    @staticmethod
    def _eq_scoped_by_file(eq_recs: list[dict]) -> bool:
        """Whether applying ``eq_recs`` needs ``_file`` lineage: only
        cloned records scope by file path (see :meth:`_eq_scope`)."""
        return any("applies_to" in rec for rec in eq_recs)

    def _eq_keys(self, h: TableHandle, entry: dict, rec: dict):
        """(broadcast-ready key frame, null-safe key condition) for one
        equality delete record: keys aliased positionally, matched
        null-safe on the CURRENT column names (resolved by stable field
        id through renames). Row scoping (sequence rule / clone
        coverage) is composed separately via :meth:`_eq_scope`."""
        import pyarrow.parquet as pq

        cur_by_id = {
            (f.get("metadata") or {}).get("field_id"): f["name"]
            for f in entry["schema"]["fields"]
        }
        old_cols = list(rec["cols"])
        fids = rec.get("field_ids") or [None] * len(old_cols)
        now_cols = [
            cur_by_id.get(fid, c) if fid is not None else c
            for c, fid in zip(old_cols, fids)
        ]

        def build() -> DataFrame:
            # Spark records its schema in every parquet footer it
            # writes; reading with it skips the schema-inference job
            reader = self.spark.read
            files = snapshot_files(h.path, [rec["dir"]])
            footer = (pq.read_metadata(files[0].path).metadata or {}) if files else {}
            spark_schema = footer.get(b"org.apache.spark.sql.parquet.row.metadata")
            if spark_schema:
                reader = reader.schema(StructType.fromJson(json.loads(spark_schema)))
            return reader.parquet(os.path.join(h.path, rec["dir"])).select(
                *[F.col(c).alias(f"_eqk_{i}") for i, c in enumerate(old_cols)]
            )

        dels = self._dir_cached(h, rec["dir"], ("eq", tuple(old_cols)), build)
        cond = F.lit(True)
        for i, c in enumerate(now_cols):
            cond = cond & F.col(c).eqNullSafe(F.col(f"_eqk_{i}"))
        return dels, cond

    def _read_positions(self, h: TableHandle, ddirs: list[str]) -> DataFrame:
        """Union of positional-delete files: (_file, _pos) pairs, read
        with the fixed schema :meth:`_mor_delete` (their only writer)
        gives them — no schema-inference job per dir."""
        parts = [
            self._dir_cached(
                h,
                d,
                ("pos",),
                lambda d=d: self.spark.read.schema(_POS_SCHEMA).parquet(
                    os.path.join(h.path, d)
                ),
            )
            for d in ddirs
        ]
        return functools.reduce(lambda a, b: a.union(b), parts)

    def _positions_by_file(
        self, h: TableHandle, ddirs: list[str]
    ) -> dict[str, set[int]]:
        """Deleted row indexes per data file (normalized local path) of
        positional-delete dirs ``ddirs``, grouped on the driver — callers
        gate this on the dirs' bytes (see :meth:`_broadcast_threshold`)."""
        out: dict[str, set[int]] = {}
        for r in self._read_positions(h, ddirs).collect():
            out.setdefault(_uri_path(r["_file"]), set()).add(int(r["_pos"]))
        return out

    def _project_dirs(
        self,
        h: TableHandle,
        entries: list[dict],
        entry: dict,
        dirs: list[str],
        *,
        lineage: bool = False,
        with_seq: bool = False,
    ) -> DataFrame:
        """Read the given snapshot dirs projected to ``entry``'s schema
        (plus ``_file``/``_pos`` lineage, and with ``with_seq`` each
        dir's sequence as the bigint literal ``_eq_seq`` that equality
        deletes scope by — see :meth:`_dir_seq`).

        Each snapshot dir is its own partition-discovery root (they all
        hold k=v partition subdirs for partitioned tables), so read them
        separately with an explicit basePath and union — Spark refuses a
        single multi-root scan (CONFLICTING_DIRECTORY_STRUCTURES).
        Every dir is read with ITS writer's schema (dir vNNNNN was
        written by entry N), then projected to the target schema by
        stable field id: renamed columns resolve under their old
        on-disk name, added columns come back NULL, dropped columns
        vanish — Iceberg's schema-evolution read semantics.
        """
        schema = StructType.fromJson(entry["schema"])
        tfields = entry["schema"]["fields"]

        def _ids(fields: list[dict]) -> dict[int, str] | None:
            out = {}
            for f in fields:
                fid = (f.get("metadata") or {}).get("field_id")
                if fid is None:
                    return None  # legacy manifest without field ids
                out[fid] = f["name"]
            return out

        target_ids = _ids(tfields)
        # row lineage: (file path, within-file row index) — the stable
        # physical row id positional deletes address (Iceberg v2's
        # (file_path, pos) delete-file key). Must be captured AT the
        # scan, before any union/join hides the file source.
        lin_cols = [
            F.col("_metadata.file_path").alias("_file"),
            F.col("_metadata.row_index").alias("_pos"),
        ]
        out_names = [f.name for f in schema.fields] + (
            ["_file", "_pos"] if lineage else []
        ) + (["_eq_seq"] if with_seq else [])

        def project(d: str, seq: int | None) -> DataFrame:
            seq_cols = [] if seq is None else [F.lit(seq).cast("bigint").alias("_eq_seq")]
            p = os.path.join(h.path, d)
            wentry = self._writer_entry(entries, entry, d)
            writer_ids = _ids(wentry["schema"]["fields"]) if target_ids else None
            if writer_ids is not None and "written_fields" in wentry:
                # only fields the dir PHYSICALLY carries resolve from
                # files; schema-union carry-overs fall through to the
                # default/NULL branch
                written = set(wentry["written_fields"])
                writer_ids = {
                    fid: n for fid, n in writer_ids.items() if n in written
                }
            if target_ids is None or writer_ids is None:
                raw = self.spark.read.schema(schema).option("basePath", p).parquet(p)
                if lineage:
                    raw = raw.select("*", *lin_cols)
                # partition columns come back from directory names;
                # enforce the declared column order
                return raw.select("*", *seq_cols).select(*out_names)
            # read without the manifest's field metadata: once Catalyst
            # drops a same-type cast below, the alias exposes the
            # reader's metadata, and rewrites would copy field ids into
            # their footers depending on plan shape
            wschema = StructType.fromJson(
                {**wentry["schema"], "fields": [
                    {**f, "metadata": {}} for f in wentry["schema"]["fields"]
                ]}
            )
            raw = (
                self.spark.read.schema(wschema).option("basePath", p).parquet(p)
            )
            cols = []
            for f, sf in zip(tfields, schema.fields):
                fid = f["metadata"]["field_id"]
                if fid in writer_ids:
                    # cast to the TARGET type: after a widening
                    # alter_column_type, old dirs still carry the
                    # narrow physical type (safe by construction —
                    # only exact promotions are allowed)
                    cols.append(
                        F.col(writer_ids[fid])
                        .cast(sf.dataType)
                        .alias(f["name"])
                    )
                else:
                    # Iceberg-v3 initial default: files without the
                    # column read the default recorded at add_column
                    default = (f.get("metadata") or {}).get("default")
                    cols.append(
                        F.lit(default).cast(sf.dataType).alias(f["name"])
                    )
            if lineage:
                cols.extend(lin_cols)
            return raw.select(*cols, *seq_cols)

        # a dir's projection depends on the dir (its writer entry is
        # fixed by it), the target schema, the lineage flag and the
        # sequence it is tagged with
        schema_key = self._schema_key(entry)
        parts = []
        for d in dirs:
            seq = self._dir_seq(entries, d) if with_seq else None
            parts.append(
                self._dir_cached(
                    h, d, ("data", schema_key, lineage, seq),
                    lambda d=d, seq=seq: project(d, seq),
                )
            )
        if not parts:  # every dir pruned away / no dirs requested
            empty = self.spark.createDataFrame([], schema)
            if lineage:
                empty = empty.select(
                    "*",
                    F.lit(None).cast("string").alias("_file"),
                    F.lit(None).cast("bigint").alias("_pos"),
                )
            if with_seq:
                empty = empty.select("*", F.lit(None).cast("bigint").alias("_eq_seq"))
            return empty.select(*out_names)
        # every part already has the out_names columns in order, so a
        # positional union is the by-name union; toDF re-aliases them,
        # giving each read its own output attributes — two reads built
        # from the same cached parts can still be joined by column
        df = functools.reduce(lambda a, b: a.union(b), parts)
        return df.toDF(*out_names)

    def table_changes(
        self, name: str, from_version: int, to_version: int | None = None
    ) -> DataFrame:
        """Change data feed between two snapshots (the Delta CDF /
        Iceberg changelog-scan analog): the row-level diff rendered in
        the ``to`` version's schema plus a ``_change_type`` column
        (``'insert'`` | ``'delete'``; an UPDATE surfaces as its
        delete+insert image pair).

        Directory-level fast path: every commit here is append or
        copy-on-write, so dirs shared by both manifests are bit-
        identical and are NEVER read — only dirs present on one side
        enter the diff. COW rewrites (delete_where / update_where /
        compact) carry unchanged rows into new dirs, so the two
        candidate sets are reconciled row-level with ``exceptAll`` both
        ways: carried rows cancel, leaving exactly the changed row
        images. Cost is bounded by the CHANGED dirs (one shuffle over
        them), not by table size — with date-partitioned appends a
        one-day delete feeds a one-day diff. Multiset semantics
        (exceptAll, not except) keep duplicate rows honest.
        """
        h, entries = self._entries(name)
        fe = entries[from_version]
        te = (
            entries[to_version]
            if to_version is not None
            else self._main_head(entries, name)
        )
        for e in (fe, te):
            if e.get("expired"):
                raise ValueError(
                    f"version {e['version']} of {name} has been expired; "
                    "its changes are no longer reconstructable"
                )
        fdirs, tdirs = set(fe["data_dirs"]), set(te["data_dirs"])
        fdd = list(fe.get("delete_dirs") or [])
        tdd = list(te.get("delete_dirs") or [])

        def _live(dirs: set, ddirs: list) -> DataFrame:
            # rows of `dirs` as visible AT that version: each side's own
            # positional AND equality deletes applied (a row appended
            # and MOR-deleted within the span nets to no change; a row
            # already deleted at `from` can't be deleted again)
            pos_d, eq_r = self._dd_split(ddirs)
            lineage = bool(pos_d) or self._eq_scoped_by_file(eq_r)
            df = self._project_dirs(
                h, entries, te, sorted(dirs), lineage=lineage,
                with_seq=bool(eq_r),
            )
            if pos_d:
                df = df.join(
                    F.broadcast(self._read_positions(h, pos_d)),
                    ["_file", "_pos"],
                    "left_anti",
                )
            if eq_r:
                df = self._apply_eq_deletes(h, te, df, eq_r).drop("_eq_seq")
            if lineage:
                df = df.drop("_file", "_pos")
            return df

        added = _live(tdirs - fdirs, tdd)
        removed = _live(fdirs - tdirs, fdd)
        inserts = added.exceptAll(removed).withColumn(
            "_change_type", F.lit("insert")
        )
        deletes = removed.exceptAll(added).withColumn(
            "_change_type", F.lit("delete")
        )
        out = inserts.unionByName(deletes)

        # MOR deletes committed within the span against dirs BOTH
        # versions share: surface their row images. Scan only the dirs
        # the new position files actually reference (the dir list is
        # bounded and tiny — safe to collect).
        new_pos_dd, new_eq_dd = self._dd_split(
            [d for d in tdd if d not in fdd]
        )
        common = fdirs & tdirs
        if new_eq_dd and common:
            # rows of the shared dirs as visible at `from`, then one
            # semi-join per new equality delete (anti-joining the
            # remainder so a row matched by two deletes images once)
            dirs_c = sorted(common)
            pos_f, eq_f = self._dd_split(fdd)
            base = self._project_dirs(
                h, entries, te, dirs_c, lineage=True, with_seq=True
            )
            if pos_f:
                base = base.join(
                    F.broadcast(self._read_positions(h, pos_f)),
                    ["_file", "_pos"],
                    "left_anti",
                )
            if eq_f:
                # keeps _eq_seq: the new deletes below scope by it too
                base = self._apply_eq_deletes(h, te, base, eq_f)
            if new_pos_dd:
                # a row killed positionally within the span images in
                # the positional block below — exclude it here so a row
                # hit by BOTH delete kinds images exactly once
                base = base.join(
                    F.broadcast(self._read_positions(h, new_pos_dd)),
                    ["_file", "_pos"],
                    "left_anti",
                )
            remaining = base
            images = None
            for rec in new_eq_dd:
                dels, keys_cond = self._eq_keys(h, te, rec)
                cond = self._eq_scope(h, rec) & keys_cond
                img = remaining.join(F.broadcast(dels), cond, "left_semi")
                images = (
                    img if images is None else images.unionByName(img)
                )
                remaining = remaining.join(
                    F.broadcast(dels), cond, "left_anti"
                )
            if images is not None:
                out = out.unionByName(
                    images.drop("_file", "_pos", "_eq_seq").withColumn(
                        "_change_type", F.lit("delete")
                    )
                )
        new_dd = new_pos_dd
        if new_dd and common:
            pos = self._read_positions(h, new_dd)
            refdirs = {
                r["_d"]
                for r in pos.select(
                    F.regexp_extract("_file", r"/(v\d{5})/", 1).alias("_d")
                )
                .distinct()
                .collect()
            }
            touch = sorted(common & refdirs)
            if touch:
                base = self._project_dirs(h, entries, te, touch, lineage=True)
                mor = (
                    base.join(
                        F.broadcast(pos), ["_file", "_pos"], "left_semi"
                    )
                    .drop("_file", "_pos")
                    .withColumn("_change_type", F.lit("delete"))
                )
                out = out.unionByName(mor)
        return out

    @staticmethod
    def _dir_prunable(stats: dict | None, prune: dict[str, tuple]) -> bool:
        """True iff the dir's footer stats PROVE no row can satisfy every
        ``col BETWEEN lo AND hi`` predicate. Conservative: missing
        stats/columns keep the dir."""
        if not stats:
            return False
        mins, maxs = stats.get("min") or {}, stats.get("max") or {}
        for col, (lo, hi) in prune.items():
            if col not in mins or col not in maxs:
                continue
            try:
                if lo is not None and maxs[col] < lo:
                    return True
                if hi is not None and mins[col] > hi:
                    return True
            except TypeError:  # caller/stat type mismatch: keep the dir
                continue
        return False

    def table_properties(self, name: str) -> dict:
        """Latest-version table properties (TBLPROPERTIES analog)."""
        _, entries = self._entries(name)
        return dict(self._main_head(entries, name).get("properties") or {})

    def current_version(self, name: str) -> int:
        """The table's current main-lineage snapshot version (the
        public accessor — callers must not walk the manifest)."""
        entries = self._load_manifest(self._handle(name))
        return self._main_head(entries, name)["version"]

    def describe(self, name: str) -> list[dict]:
        """DESCRIBE: (col_name, data_type, comment) rows (S3 analog)."""
        _, entries = self._entries(name)
        return [
            {
                "col_name": f["name"],
                "data_type": f["type"],
                "comment": (f.get("metadata") or {}).get("comment"),
            }
            for f in self._main_head(entries, name)["schema"]["fields"]
        ]

    def snapshots(self, name: str) -> DataFrame:
        """The Iceberg ``.snapshots`` metadata-table analog."""
        entries = self._load_manifest(self._handle(name))
        rows = [
            (
                e["version"],
                e["op"],
                e["committed_at"],
                len(e["data_dirs"]),
                bool(e.get("expired", False)),
                e.get("branch"),
            )
            for e in entries
        ]
        return self.spark.createDataFrame(
            rows,
            "version int, operation string, committed_at string, "
            "n_data_dirs int, expired boolean, branch string",
        )

    def files(self, name: str, *, version: int | None = None) -> DataFrame:
        """The Iceberg ``.files`` metadata-table analog: one row per
        live data file — snapshot dir, relative path, bytes, rows
        (parquet footer counts; no data scan). The operational view
        compaction decisions read (small-file counts, rows per file)."""
        import pyarrow.parquet as pq

        h, entries = self._entries(name)
        entry = (
            entries[version]
            if version is not None
            else self._main_head(entries, name)
        )
        rows = [
            (
                f.dir,
                os.path.relpath(f.path, h.path),
                f.bytes,
                pq.read_metadata(f.path).num_rows,
            )
            for f in snapshot_files(h.path, entry["data_dirs"])
        ]
        return self.spark.createDataFrame(
            rows, "snapshot_dir string, file string, bytes bigint, rows bigint"
        )

    def row_count(self, name: str, *, version: int | None = None) -> int:
        """Metadata-only COUNT(*): manifest row stats summed per dir,
        minus positional-delete counts (delete-file footers) — the
        Iceberg/Delta trick that answers ``SELECT COUNT(*)`` without
        touching data. Falls back to footer reads for legacy dirs
        committed before stats existed."""
        h, entries = self._entries(name)
        entry = (
            entries[version]
            if version is not None
            else self._main_head(entries, name)
        )
        total = 0
        for d in entry["data_dirs"]:
            stats = self._writer_entry(entries, entry, d).get("stats")
            if stats and "rows" in stats:
                total += stats["rows"]
                continue
            total += self._footer_rows(h.path, d)
        pos_dirs, eq_recs = self._dd_split(entry.get("delete_dirs") or [])
        if eq_recs:
            # EQUALITY deletes suppress by key, not by position — the
            # suppressed-row count is data-dependent (every pre-delete
            # row sharing a key), so metadata arithmetic cannot answer
            # it. Fall back to counting the merged view (still bounded:
            # one scan; run rewrite_position_deletes to restore the
            # metadata-only path).
            return self.read(name, version=version).count()
        if pos_dirs:
            # subtract ONLY positions whose data file is still live: a
            # COW/merge rewrite may have replaced a MOR-deleted dir
            # (the rewritten output already excludes those rows), and
            # its delete files are carried for any OTHER dirs they
            # cover — blind footer subtraction would double-count.
            # This one case reads the (small, broadcast-sized by the
            # MOR contract) delete files' file column instead of being
            # purely footer-metadata.
            live = [os.path.join(h.path, d) for d in entry["data_dirs"]]
            if live:
                pos = self._read_positions(h, pos_dirs)
                total -= pos.filter(_in_dirs("_file", live)).count()
        return total

    def partitions(self, name: str, *, version: int | None = None) -> DataFrame:
        """The Iceberg ``.partitions`` metadata-table analog: one row
        per live partition tuple with file/row/byte counts, parsed from
        the hive-style ``col=value`` path segments of the live files —
        footer metadata only, no data scan. Unpartitioned tables (or
        dirs written before a partition-spec change) report under the
        empty partition ``{}``, so mixed-layout tables stay honest. A
        null partition value reports as JSON ``null``."""
        import pyarrow.parquet as pq

        h, entries = self._entries(name)
        entry = (
            entries[version]
            if version is not None
            else self._main_head(entries, name)
        )
        agg: dict[str, list[int]] = {}
        for f in snapshot_files(h.path, entry["data_dirs"]):
            cur = agg.setdefault(json.dumps(f.partition, sort_keys=True), [0, 0, 0])
            cur[0] += 1
            cur[1] += pq.read_metadata(f.path).num_rows
            cur[2] += f.bytes
        return self.spark.createDataFrame(
            [(k, *v) for k, v in sorted(agg.items())],
            "partition string, n_files bigint, rows bigint, bytes bigint",
        )

    # -- column statistics (ANALYZE TABLE) ---------------------------------
    def _stats_path(self, h: TableHandle, version: int) -> str:
        return os.path.join(h.path, f"_stats_v{version}.json")

    def analyze_table(
        self, name: str, columns: list[str] | None = None
    ) -> dict:
        """``ANALYZE TABLE ... COMPUTE STATISTICS FOR COLUMNS`` — the
        Iceberg/Trino/Spark-CBO stats surface for catalog tables.

        ONE scan computes, per requested column: non-null count, approx
        NDV (HyperLogLog++, mergeable and scan-local — exact distinct
        would shuffle every value), min/max (rendered to strings), and
        average serialized length for strings/binary. All expressions
        ride a single global aggregate, so the cost is one pass with a
        1-row result regardless of column count. Stats land in a
        per-snapshot sidecar (``_stats_v<N>.json``) next to the
        manifest — version-pinned like Iceberg's StatisticsFile, so
        time travel never serves stats from a different snapshot.
        """
        h, entries = self._entries(name)
        head = self._main_head(entries, name)
        df = self.read(name)
        schema = {f.name: f.dataType.simpleString() for f in df.schema.fields}
        cols = list(columns) if columns else list(schema)
        unknown = [c for c in cols if c not in schema]
        if unknown:
            raise ValueError(f"analyze_table: unknown columns {unknown}")
        aggs = [F.count(F.lit(1)).alias("__rows")]
        for i, c in enumerate(cols):
            col = F.col(c)
            aggs += [
                F.count(col).alias(f"__nn_{i}"),
                F.approx_count_distinct(col).alias(f"__ndv_{i}"),
                F.min(col).cast("string").alias(f"__min_{i}"),
                F.max(col).cast("string").alias(f"__max_{i}"),
            ]
            if schema[c] in ("string", "binary"):
                aggs.append(
                    F.avg(F.length(col)).alias(f"__len_{i}")
                )
        row = df.agg(*aggs).collect()[0]
        stats = {
            "version": head["version"],
            "row_count": row["__rows"],
            "columns": {},
        }
        for i, c in enumerate(cols):
            entry = {
                "type": schema[c],
                "null_count": row["__rows"] - row[f"__nn_{i}"],
                "ndv": row[f"__ndv_{i}"],
                "min": row[f"__min_{i}"],
                "max": row[f"__max_{i}"],
            }
            if f"__len_{i}" in row.asDict():
                avg_len = row[f"__len_{i}"]
                entry["avg_len"] = (
                    None if avg_len is None else round(float(avg_len), 2)
                )
            stats["columns"][c] = entry
        _write_json(self._stats_path(h, head["version"]), stats)
        return stats

    def column_stats(
        self, name: str, *, version: int | None = None
    ) -> dict | None:
        """Stats recorded for a snapshot (default: the main head), or
        ``None`` if that exact snapshot was never analyzed — stale
        stats are never silently served for a different version."""
        h, entries = self._entries(name)
        v = (
            version
            if version is not None
            else self._main_head(entries, name)["version"]
        )
        return _read_json(self._stats_path(h, v), None)

    def show_stats(self, name: str) -> DataFrame:
        """``SHOW STATS FOR <table>`` rendering (Trino shape): one row
        per analyzed column plus the table row-count summary row."""
        stats = self.column_stats(name)
        if stats is None:
            raise ValueError(
                f"no statistics for {name} at its current version — "
                "run analyze_table first"
            )
        rows = [
            (
                c,
                s["type"],
                int(stats["row_count"]),
                int(s["null_count"]),
                int(s["ndv"]),
                s["min"],
                s["max"],
                s.get("avg_len"),
            )
            for c, s in sorted(stats["columns"].items())
        ]
        return self.spark.createDataFrame(
            rows,
            "column string, type string, row_count bigint, "
            "null_count bigint, ndv bigint, min string, max string, "
            "avg_len double",
        )

    #: fixed-width column sizes for the CBO estimate (Spark's own
    #: defaultSize values); strings/binary use the ANALYZE sidecar's
    #: avg_len when present, else a 24-byte default
    _TYPE_WIDTH = {
        "boolean": 1, "tinyint": 1, "smallint": 2, "int": 4,
        "integer": 4, "date": 4, "float": 4, "bigint": 8, "long": 8,
        "double": 8, "timestamp": 8, "timestamp_ntz": 8,
    }

    def estimated_size_bytes(
        self,
        name: str,
        *,
        columns: list[str] | None = None,
        extra_row_bytes: float = 0.0,
    ) -> int | None:
        """CBO-style size estimate for the table head (optionally a
        column subset) from METADATA ONLY: manifest per-dir row stats ×
        per-column widths, with string/binary widths refined by the
        ANALYZE sidecar's ``avg_len`` when the current version was
        analyzed. Returns ``None`` when any live dir predates row
        stats (no silent guess). Equality deletes make this an
        OVER-estimate (suppressed rows still count) — safe for the one
        consumer that matters, broadcast-side selection: an
        overestimate can only withhold a broadcast, never OOM one."""
        h, entries = self._entries(name)
        head = self._main_head(entries, name)
        rows = 0
        for d in head["data_dirs"]:
            stats = self._writer_entry(entries, head, d).get("stats")
            if not stats or "rows" not in stats:
                return None
            rows += stats["rows"]
        width = self.estimated_row_width_bytes(name, columns=columns)
        # +8/row container overhead; extra_row_bytes lets callers price
        # in per-row payloads the schema doesn't show (e.g. the lineage
        # path column a merge probe carries)
        return int(rows * (width + 8 + extra_row_bytes))

    def estimated_row_width_bytes(
        self, name: str, *, columns: list[str] | None = None
    ) -> float:
        """Per-row width estimate for a column subset of ``name``'s
        head schema: fixed type widths, string/binary refined by the
        ANALYZE sidecar's ``avg_len`` when the current version was
        analyzed (default 24 otherwise). The pricing half of
        :meth:`estimated_size_bytes`, exposed for callers that already
        hold an EXACT row count (e.g. a change-feed group set counted
        by the refresh that derives it)."""
        h, entries = self._entries(name)
        head = self._main_head(entries, name)
        sidecar = self.column_stats(name)
        side_cols = (sidecar or {}).get("columns", {})
        schema = {
            f["name"]: (
                f["type"] if isinstance(f["type"], str) else "complex"
            )
            for f in head["schema"]["fields"]
        }
        cols = list(columns) if columns is not None else list(schema)
        unknown = [c for c in cols if c not in schema]
        if unknown:
            raise ValueError(
                f"estimated row width: unknown columns {unknown}"
            )
        width = 0.0
        for c in cols:
            t = schema[c]
            if t in self._TYPE_WIDTH:
                width += self._TYPE_WIDTH[t]
            elif t.startswith("decimal"):
                width += 16
            elif t in ("string", "binary"):
                avg = (side_cols.get(c) or {}).get("avg_len")
                width += (avg + 4) if avg is not None else 24
            else:
                width += 64  # array/map/struct default
        return width

    def estimated_changes_size_bytes(
        self,
        name: str,
        from_version: int,
        to_version: int | None = None,
        *,
        columns: list[str] | None = None,
    ) -> int | None:
        """Metadata-only UPPER bound on the ``(from, to]`` change
        feed's size for a column subset: data dirs present on exactly
        one side of the span, priced by manifest row stats ×
        :meth:`estimated_row_width_bytes` — the broadcast-side input
        for incremental-refresh plans (``CdcAggregate``) whose
        affected-group sets derive from the feed. Overestimates by
        construction (COW-carried rows count on both sides; affected
        GROUPS are ≤ feed rows) — an overestimate can only withhold a
        broadcast, never OOM one. Returns ``None`` (no silent guess)
        when any span dir predates row stats or when the span commits
        NEW merge-on-read delete files: their images feed the diff
        from dirs both versions share, which this dir-level estimate
        cannot bound."""
        h, entries = self._entries(name)
        if not 0 <= from_version < len(entries) or (
            to_version is not None and not 0 <= to_version < len(entries)
        ):
            # same refusal shape as table_changes: a negative index
            # would silently alias the head and price a bogus span
            raise ValueError(
                f"estimated_changes_size_bytes: version out of range "
                f"for {name} (0..{len(entries) - 1})"
            )
        fe = entries[from_version]
        te = (
            entries[to_version]
            if to_version is not None
            else self._main_head(entries, name)
        )
        if fe.get("expired") or te.get("expired"):
            # the span's feed is no longer readable; pricing reclaimed
            # dirs from stale stats would be a confident wrong answer
            return None
        fdirs, tdirs = set(fe["data_dirs"]), set(te["data_dirs"])

        def _dd_names(e: dict) -> set:
            # positional records are plain dir strings, equality
            # records are dicts carrying their key columns
            return {
                d["dir"] if isinstance(d, dict) else d
                for d in (e.get("delete_dirs") or [])
            }

        if _dd_names(te) - _dd_names(fe):
            return None  # in-span MOR deletes image unbounded common dirs
        rows = 0
        for d in sorted(fdirs ^ tdirs):
            owner = fe if d in fdirs else te
            stats = self._writer_entry(entries, owner, d).get("stats")
            if not stats or "rows" not in stats:
                return None
            rows += stats["rows"]
        width = self.estimated_row_width_bytes(name, columns=columns)
        return int(rows * (width + 8))

    def prune_hints(self, name: str) -> list[str]:
        """``read(prune=...)`` suggestions from the stats sidecars —
        one line per column whose per-dir footer min/max (the manifest
        skipping metadata) actually covers the table's live dirs,
        enriched with the ANALYZE sidecar's global range + NDV when the
        current version was analyzed. Surfaced by the SQL front-end's
        EXPLAIN so a user sees WHICH predicate columns the manifest
        can skip on before paying for a scan."""
        h, entries = self._entries(name)
        head = self._main_head(entries, name)
        dirs = head["data_dirs"]
        if not dirs:
            return []
        cover: dict[str, int] = {}
        for d in dirs:
            stats = self._writer_entry(entries, head, d).get("stats") or {}
            mins, maxs = stats.get("min") or {}, stats.get("max") or {}
            for c in mins:
                if c in maxs:
                    cover[c] = cover.get(c, 0) + 1
        sidecar = self.column_stats(name)
        side_cols = (sidecar or {}).get("columns", {})
        lines = []
        for c in sorted(cover):
            line = (
                f"prune hint: {name}.{c} — dir min/max on "
                f"{cover[c]}/{len(dirs)} dirs; read({name!r}, "
                f"prune={{{c!r}: (lo, hi)}}) skips non-intersecting dirs"
            )
            s = side_cols.get(c)
            if s is not None:
                line += (
                    f" [global {s['min']!r}..{s['max']!r}, ndv≈{s['ndv']}]"
                )
            lines.append(line)
        return lines

    # -- SQL views ---------------------------------------------------------
    def _views_path(self) -> str:
        return os.path.join(self.root, "_views.json")

    def views(self) -> dict[str, str]:
        """Defined view name → SQL text, in definition order."""
        return _read_json(self._views_path(), {})

    def create_view(self, name: str, sql_text: str, *, replace: bool = False) -> None:
        """CREATE [OR REPLACE] VIEW: a named SQL definition over catalog
        tables (and earlier views) — the dbt-model naming layer. Views
        are logical only (re-resolved at read against the CURRENT table
        snapshots); definition order is preserved so views may reference
        earlier views."""
        if self.table_exists(name):
            raise ValueError(f"{name} already exists as a table")
        views = self.views()
        if name in views and not replace:
            raise ValueError(f"view {name} already exists")
        views[name] = sql_text
        _write_json(self._views_path(), views)

    def drop_view(self, name: str) -> None:
        views = self.views()
        if name not in views:
            raise ValueError(f"view {name} does not exist")
        del views[name]
        _write_json(self._views_path(), views)

    def read_view(self, name: str) -> DataFrame:
        """Resolve a view against the current snapshots."""
        views = self.views()
        if name not in views:
            raise ValueError(f"view {name} does not exist")
        self.register_views(names={name})
        return self.spark.sql(views[name])

    def register_views(self, names: set[str] | None = None) -> None:
        """Expose tables AND defined SQL views for spark.sql() (views
        registered in definition order, so later views may build on
        earlier ones).

        ``names`` scopes registration to the given identifiers plus the
        closure of view dependencies — the SQL front-end passes the
        statement's identifier set so serving one query costs O(its
        tables), not O(catalog size) manifest reads (a 1000-table
        catalog must not pay 1000 snapshot resolutions per statement).
        ``None`` registers everything (the legacy full-surface call)."""
        views = self.views()
        if names is None:
            needed_tables = set(self.tables())
            needed_views = set(views)
        else:
            # dependency closure: later views reference earlier ones,
            # so a reverse walk collects everything a requested view
            # pulls in (an over-approximation by identifier scan —
            # registering an extra table is harmless, missing one is
            # not)
            needed = set(names)
            for vname in reversed(list(views)):
                if vname in needed:
                    needed |= set(re.findall(r"[A-Za-z_][A-Za-z_0-9]*",
                                             views[vname]))
            needed_tables = needed & set(self.tables())
            needed_views = needed & set(views)
        for name in sorted(needed_tables):
            self.read(name).createOrReplaceTempView(name)
        for name, sql_text in views.items():
            if name in needed_views:
                self.spark.sql(sql_text).createOrReplaceTempView(name)

    # -- materialized views ------------------------------------------------
    # Incrementally-maintained aggregate tables: the definition persists
    # in _matviews.json, the data is an ordinary catalog table kept
    # current by plans/cdc.py::CdcAggregate — REFRESH folds only the
    # source's change feed since the last refresh (IVM), never a full
    # recompute. The reference recomputes every gold mart per dbt run;
    # this is the at-scale replacement the SQL surface can now declare.

    def _matviews_path(self) -> str:
        return os.path.join(self.root, "_matviews.json")

    def materialized_views(self) -> dict[str, dict]:
        return _read_json(self._matviews_path(), {})

    def _save_matviews(self, mvs: dict[str, dict]) -> None:
        _write_json(self._matviews_path(), mvs)

    def _matview_maintainer(self, name: str):
        from data_lakehouse_spark.plans.cdc import (
            CdcAggregate,
            CdcJoinAggregate,
        )

        mv = self.materialized_views().get(name)
        if mv is None:
            raise ValueError(f"materialized view {name} does not exist")
        if mv.get("join_dim"):
            return CdcJoinAggregate(
                self,
                source=mv["source"],
                dim=mv["join_dim"],
                target=name,
                on=mv["join_on"],
                group_cols=mv["group_cols"],
                measures={k: tuple(v) for k, v in mv["measures"].items()},
                where=mv.get("where"),
            )
        return CdcAggregate(
            self,
            source=mv["source"],
            target=name,
            group_cols=mv["group_cols"],
            measures={k: tuple(v) for k, v in mv["measures"].items()},
            where=mv.get("where"),
        )

    def create_materialized_view(
        self,
        name: str,
        *,
        source: str,
        group_cols: list[str],
        measures: dict[str, tuple[str, str | None]],
        sql_text: str | None = None,
        where: str | None = None,
        join_dim: str | None = None,
        join_on: list[str] | None = None,
        replace: bool = False,
        refresh: bool = True,
    ) -> dict:
        """Declare + (by default) build an incrementally-maintained
        aggregate over a catalog table. ``measures`` follows the
        CdcAggregate contract (sum/count/count_col/avg/count_distinct/
        min/max; AVG maintained as its SUM/COUNT pair); ``where`` scopes
        the view to a source predicate (applied to change images before
        folding); holistic aggregates refuse with the guidance to use
        the sketch tier.

        ``join_dim`` + ``join_on`` declare the JOIN-SHAPED form
        (``FROM source JOIN join_dim USING (join_on...) GROUP BY ...``,
        maintained by delta-join IVM on change feeds from BOTH sides —
        see :class:`~data_lakehouse_spark.plans.cdc.CdcJoinAggregate`);
        group columns, measure exprs and ``where`` may then reference
        dim columns, and measures are restricted to the algebraic
        kinds (sum/count/count_col/avg)."""
        if not self.table_exists(source):
            raise ValueError(f"materialized view source {source} not found")
        if join_dim is not None and not self.table_exists(join_dim):
            raise ValueError(
                f"materialized view join dim {join_dim} not found"
            )
        if (join_dim is None) != (not join_on):
            raise ValueError(
                "join_dim and join_on must be passed together"
            )
        mvs = self.materialized_views()
        if name in mvs and not replace:
            raise ValueError(f"materialized view {name} already exists")
        if self.table_exists(name) and name not in mvs:
            raise ValueError(f"{name} already exists as a plain table")
        if name in mvs and replace:
            self.drop_materialized_view(name)
            mvs = self.materialized_views()
        mvs[name] = {
            "source": source,
            "group_cols": list(group_cols),
            "measures": {k: list(v) for k, v in measures.items()},
            "sql": sql_text,
            "where": where,
            "join_dim": join_dim,
            "join_on": list(join_on) if join_on else None,
        }
        # validate the measure kinds before persisting
        from data_lakehouse_spark.plans.cdc import (
            CdcAggregate,
            CdcJoinAggregate,
        )

        if join_dim:
            CdcJoinAggregate(self, source, join_dim, name, list(join_on),
                             list(group_cols),
                             {k: tuple(v) for k, v in measures.items()},
                             where=where)
        else:
            CdcAggregate(self, source, name, list(group_cols),
                         {k: tuple(v) for k, v in measures.items()},
                         where=where)
        self._save_matviews(mvs)
        out = {"op": "create_materialized_view", "name": name}
        if refresh:
            out["refresh"] = self.refresh_materialized_view(name)
        return out

    def refresh_materialized_view(self, name: str) -> dict:
        """IVM refresh: first call full-builds, later calls fold only
        the unseen change-feed span (exactly-once across crashes — the
        processed source version commits WITH the mart)."""
        return self._matview_maintainer(name).refresh()

    def drop_materialized_view(self, name: str) -> dict:
        """Remove the definition, the mart table and its support
        (``__dv_*``) tables."""
        mv = self.materialized_views().get(name)
        if mv is None:
            raise ValueError(f"materialized view {name} does not exist")
        maintainer = self._matview_maintainer(name)
        for out_col, (kind, _) in maintainer._supported.items():
            dv = maintainer._dv_table(out_col)
            if self.table_exists(dv):
                self.drop_table(dv, force=True)
        if self.table_exists(name):
            self.drop_table(name, force=True)
        mvs = self.materialized_views()
        del mvs[name]
        self._save_matviews(mvs)
        return {"op": "drop_materialized_view", "name": name}


def with_audit_columns(df: DataFrame, source_file: str) -> DataFrame:
    """P1: the reference's ingestion metadata columns
    (bronze_ingestion.py:166-169)."""
    return (
        df.withColumn("_ingestion_time", F.current_timestamp())
        .withColumn("_source_file", F.lit(source_file))
        .withColumn("_processing_date", F.current_date())
    )
