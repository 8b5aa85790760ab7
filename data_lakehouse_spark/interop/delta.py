"""Delta Lake export / read — the second open storage format next to
:mod:`data_lakehouse_spark.interop.iceberg`.

A Delta table is parquet data plus a ``_delta_log/`` of ordered JSON
commits (public protocol: https://github.com/delta-io/delta/blob/master/PROTOCOL.md);
no Avro, no manifest indirection — which makes export a pure-JSON
metadata write and the reader a log replay:

- :func:`export_delta` and :func:`export_delta_history` share one log
  writer, :func:`_write_log`: one Delta commit per catalog snapshot,
  holding protocol/metaData (when they change) and the add/remove diff
  against the previous snapshot. The current-snapshot export is the
  one-version case. Zero-copy by default (``add.path`` may be absolute
  per the protocol; it is a URI, so a ``%`` is written as ``%25``);
  identity-hive-partitioned tables stay zero-copy because Delta
  restores partition column values from ``add.partitionValues``
  (unlike the Iceberg export, which must materialize those). MOR
  positional deletes export as deletion vectors; equality deletes and
  transform-partitioned layouts materialize (current snapshot) or
  refuse (history).
- :func:`read_delta` replays a Delta log — latest checkpoint parquet
  (if any) plus later JSON commits, add/remove reconciliation,
  partition-value reconstruction, schema from the last ``metaData``,
  deletion vectors applied from their spec-format sidecars
  (:mod:`data_lakehouse_spark.interop.dv`) via a broadcast anti-join
  on ``_metadata.row_index`` lineage — and refuses column mapping
  rather than returning wrong rows (physical names diverge from
  logical ones; the one remaining documented refusal).

``schemaString`` IS Spark's schema JSON (Delta inherited it), so
conversion is the identity — the catalog's schema round-trips exactly.
"""

from __future__ import annotations

import json
import os
import re
import time
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from data_lakehouse_spark.catalog import _spark_uri, _uri_path, snapshot_files

__all__ = ["export_delta", "export_delta_history", "read_delta"]


def _schema_string(catalog_schema: dict) -> str:
    """Catalog (Spark) schema JSON -> Delta schemaString. Identity
    except metadata: Delta stores column metadata too, but our
    field_id etc. are engine-internal — strip to keep the log clean."""
    fields = [
        {
            "name": f["name"],
            "type": f["type"],
            "nullable": f.get("nullable", True),
            "metadata": {},
        }
        for f in catalog_schema["fields"]
    ]
    return json.dumps({"type": "struct", "fields": fields})


def _pos_dirs(catalog, versions: list[dict]) -> list[str]:
    """Every positional-delete dir the snapshots reference, once."""
    return sorted(
        {
            d
            for e in versions
            for d in catalog._dd_split(e.get("delete_dirs") or [])[0]
        }
    )


def _pos_fits_driver(catalog, h, versions: list[dict]) -> tuple[int, bool]:
    """(bytes of the snapshots' positional-delete dirs, whether they fit
    the broadcast threshold). The DV encode groups that whole set on
    the driver (one sidecar per file) — bounded only while it stays
    broadcast-sized, the same gate the MOR read path uses before
    flipping to a shuffled anti-join."""
    pos_bytes = sum(catalog._dir_bytes(h, d) for d in _pos_dirs(catalog, versions))
    return pos_bytes, pos_bytes <= catalog._broadcast_threshold()


def export_delta(
    catalog,
    name: str,
    dest: str,
    *,
    materialize: bool | None = None,
    deletion_vectors: bool = True,
) -> dict:
    """Export the catalog table's CURRENT snapshot as a Delta table at
    ``dest`` (``_delta_log/00000000000000000000.json`` + referenced
    parquet). Zero-copy by default — O(files) footer reads, no data
    scan. MOR POSITIONAL deletes stay zero-copy too: the catalog's
    (file, row_index) delete files are EXACTLY a deletion vector's
    content, so they re-encode as per-file spec-format DV sidecars
    (:mod:`data_lakehouse_spark.interop.dv`) under ``dest/dv/`` plus
    the ``deletionVectors`` protocol bump — O(deleted rows) metadata,
    no data rewrite. Auto-materializes (one Spark rewrite into
    ``dest/data/``) only when DVs can't express the snapshot: EQUALITY
    delete files (row indexes would need a scan to resolve), a
    positional-delete set past the broadcast threshold, or
    non-identity (transform) partitioning; identity hive partitioning
    exports zero-copy with per-file ``partitionValues`` parsed from
    the directory layout. ``deletion_vectors=False`` restores the
    always-materialize-on-deletes behavior for readers predating the
    feature.

    Same freshness caveat as the Iceberg export: the log references a
    frozen snapshot, and ``expire_snapshots`` on the source can reclaim
    zero-copy-referenced files."""
    h, entries = catalog._entries(name)
    head = catalog._main_head(entries, name)
    pos_dirs, eq_recs = catalog._dd_split(head.get("delete_dirs") or [])
    has_deletes = bool(pos_dirs) or bool(eq_recs)
    pb = list(head.get("partition_by") or [])
    schema_fields = {f["name"] for f in head["schema"]["fields"]}
    # identity partitioning = every physical partition dir column is a
    # declared schema column; hidden transform columns (days(ts),
    # bucket(n, col)) are derived and NOT restorable from the path
    identity_part = all(c in schema_fields for c in pb)
    # past the driver gate, an un-folded CDC stream's delete set could
    # OOM the driver: fall back to materialize instead
    pos_bytes, pos_fits_driver = _pos_fits_driver(catalog, h, [head])
    dv_eligible = (
        deletion_vectors
        and bool(pos_dirs)
        and pos_fits_driver
        and not eq_recs
        and (not pb or identity_part)
    )
    must_materialize = (has_deletes and not dv_eligible) or (
        bool(pb) and not identity_part
    )
    if materialize is None:
        materialize = must_materialize
    if must_materialize and not materialize:
        raise ValueError(
            f"cannot zero-copy export {name}: "
            + ("it carries equality-delete files (row indexes would "
               "need a scan to resolve into deletion vectors); "
               if eq_recs else
               f"its positional-delete set ({pos_bytes} bytes) exceeds "
               "the broadcast threshold (driver-side DV grouping would "
               "be unbounded — fold deletes first via "
               "rewrite_position_deletes); "
               if pos_dirs and not pos_fits_driver and deletion_vectors
               else
               "it carries MOR delete files (deletion_vectors=False); "
               if has_deletes else "")
            + ("its partitioning uses hidden transforms; "
               if pb and not identity_part else "")
            + "pass materialize=True (one rewrite into the export)"
        )

    dest = os.path.abspath(dest)
    if materialize:
        # the rewritten snapshot: one unpartitioned dir, no deletes
        data_dir = os.path.join(dest, "data")
        catalog.read(name).write.mode("overwrite").parquet(data_dir)
        head = {**head, "data_dirs": [data_dir], "delete_dirs": []}
        pb = []
    live, live_dv = _write_log(
        catalog, h, name, dest, [head], pb, checkpoint_interval=None
    )
    return {
        "table": name,
        "location": dest,
        "data_files": len(live),
        # logical row count: physical rows minus DV-suppressed ones
        "rows": sum(json.loads(a["stats"])["numRecords"] for a in live.values())
        - sum(len(s) for s in live_dv.values()),
        "materialized": bool(materialize),
        "deletion_vector_files": len(live_dv),
        "partition_columns": pb,
    }


def export_delta_history(
    catalog,
    name: str,
    dest: str,
    *,
    checkpoint_interval: int | None = 10,
) -> dict:
    """Export EVERY published main-lineage snapshot of a catalog table
    as one Delta table whose commit history mirrors the catalog's —
    external time travel (``read_delta(..., version=k)`` / any Delta
    reader's ``VERSION AS OF``) over the catalog's versions.

    Zero-copy only: catalog version k becomes Delta commit k' (dense
    renumbering over published versions) whose ``add``/``remove``
    actions are the file-set diff against the previous snapshot —
    exactly how a native Delta writer logs an append or rewrite.
    Schema commits surface as metaData-only Delta commits, so pinned
    reads see the schema as of that version. A classic checkpoint
    parquet (+ ``_last_checkpoint``) is written every
    ``checkpoint_interval`` commits and at the head, so replay cost for
    latest-reads is O(commits since checkpoint), not O(history) — the
    protocol's scale mechanism (reference stores genuine open-format
    tables: spark/jobs/bronze_ingestion.py:94-121).

    MOR POSITIONAL deletes in history export as deletion-vector
    commits: a ``delete_mor`` version becomes a remove + re-add of
    each touched file carrying its CUMULATIVE DV sidecar (how a native
    DV writer logs a delete), and the protocol carries the
    ``deletionVectors`` feature from commit 0. Refused shapes (same
    contract as
    :func:`~data_lakehouse_spark.interop.iceberg.export_iceberg_history`):
    EQUALITY delete files anywhere in history (row indexes would need
    a scan per version to resolve — export the current snapshot with
    :func:`export_delta`, ``materialize=True``, instead), a
    positional-delete history past the broadcast threshold (the same
    driver gate as :func:`export_delta`) or a partition-spec change.
    Non-identity (hidden-transform) partitioning is refused for the
    same reason as the current-snapshot path. Expired catalog versions
    are skipped (files reclaimed)."""
    h, entries = catalog._entries(name)
    versions = [
        e
        for e in entries
        if "branch" not in e and not e.get("staged") and not e.get("expired")
    ]
    if not versions:
        raise ValueError(f"table {name} has no published snapshots")
    if any(
        catalog._dd_split(e.get("delete_dirs") or [])[1] for e in versions
    ):
        raise ValueError(
            f"{name}: history export is zero-copy only and a version "
            "carries equality-delete files; export the current snapshot "
            "with materialize=True instead"
        )
    specs = {tuple(e.get("partition_by") or []) for e in versions}
    if len(specs) > 1:
        raise ValueError(
            f"{name}: partition spec changed across versions {specs}; "
            "history export supports a constant spec"
        )
    part_cols = list(versions[-1].get("partition_by") or [])
    schema_fields = {
        f["name"] for f in versions[-1]["schema"]["fields"]
    }
    if not all(c in schema_fields for c in part_cols):
        raise ValueError(
            f"{name}: partitioning uses hidden transforms; history "
            "export refused (values are not restorable from the path)"
        )
    dest = os.path.abspath(dest)
    live, _ = _write_log(
        catalog, h, name, dest, versions, part_cols, checkpoint_interval
    )
    return {
        "table": name,
        "location": dest,
        "commits": len(versions),
        "data_files": len(live),
        "checkpoint": len(versions) - 1 if checkpoint_interval else None,
        "partition_columns": part_cols,
    }


def _write_log(
    catalog,
    h,
    name: str,
    dest: str,
    versions: list[dict],
    part_cols: list[str],
    checkpoint_interval: int | None,
) -> tuple[dict[str, dict], dict[str, frozenset]]:
    """Write one Delta commit per catalog snapshot in ``versions``
    (zero-copy: ``add.path`` is each file's absolute in-place path) to
    ``dest/_delta_log`` → the head's (live adds, DV row indexes) by
    path. Positional deletes become per-file DV sidecars, refused past
    the driver gate (:func:`_pos_fits_driver`). A checkpoint is written
    every ``checkpoint_interval`` commits and at the head (never when
    it is ``None``)."""
    import pyarrow.parquet as pq

    from data_lakehouse_spark.interop.dv import attach_dv

    pos_bytes, pos_fits_driver = _pos_fits_driver(catalog, h, versions)
    if not pos_fits_driver:
        raise ValueError(
            f"cannot zero-copy export {name}: its positional-delete set "
            f"({pos_bytes} bytes) exceeds the broadcast threshold "
            "(driver-side DV grouping would be unbounded — fold deletes "
            "first via rewrite_position_deletes and expire the "
            "snapshots that still carry them)"
        )
    log_dir = os.path.join(dest, "_delta_log")
    os.makedirs(log_dir, exist_ok=True)
    now_ms = int(time.time() * 1000)
    protocol = (
        {
            "minReaderVersion": 3,
            "minWriterVersion": 7,
            "readerFeatures": ["deletionVectors"],
            "writerFeatures": ["deletionVectors"],
        }
        if _pos_dirs(catalog, versions)
        else {"minReaderVersion": 1, "minWriterVersion": 2}
    )
    table_id = str(uuid.uuid4())
    # dirs shared across versions are immutable: a file's row count and
    # a delete dir's positions are read once for the whole log
    n_rows: dict[str, int] = {}
    positions: dict[str, dict[str, set[int]]] = {}

    def _add(f) -> dict:
        if f.path not in n_rows:
            n_rows[f.path] = pq.read_metadata(f.path).num_rows
        return {
            # the protocol's path is a URI that readers decode: escaping
            # '%' keeps a literal one (Spark's escaped partition dirs,
            # s=10%3A00) intact; every other character is written as-is
            "path": f.path.replace("%", "%25"),
            "partitionValues": f.partition,
            "size": f.bytes,
            "modificationTime": now_ms,
            "dataChange": True,
            "stats": json.dumps({"numRecords": n_rows[f.path]}),
        }

    def _with_dv(a: dict, killed: frozenset) -> dict:
        return dict(
            a, deletionVector=attach_dv(dest, sorted(killed), storage="u", prefix="dv/")
        )

    live: dict[str, dict] = {}
    live_dv: dict[str, frozenset] = {}  # current DV content per path
    meta: dict | None = None
    last_ckpt = -1
    for k, entry in enumerate(versions):
        cur = {
            f.path: _add(f)
            for f in snapshot_files(h.path, entry["data_dirs"], part_cols)
        }
        # cumulative deleted indexes per file AT this version
        dv_now: dict[str, set] = {}
        for d in catalog._dd_split(entry.get("delete_dirs") or [])[0]:
            if d not in positions:
                positions[d] = catalog._positions_by_file(h, [d])
            for p, idxs in positions[d].items():
                dv_now.setdefault(p, set()).update(idxs)
        ghost = set(dv_now) - set(cur)
        if ghost:
            # a position referencing no snapshot file would silently
            # resurrect its deleted rows in the export
            raise ValueError(
                f"export_delta {name}@v{entry['version']}: "
                f"{len(ghost)} positional-delete file reference(s) "
                f"matched no snapshot file (path rendering mismatch?): "
                f"{sorted(ghost)[:3]}"
            )
        actions: list[dict] = []
        if k == 0:
            actions.append({"protocol": protocol})
        new_meta = {
            "id": table_id,
            "format": {"provider": "parquet", "options": {}},
            "schemaString": _schema_string(entry["schema"]),
            "partitionColumns": part_cols,
            "configuration": {},
            "createdTime": now_ms,
        }
        if meta is None or new_meta["schemaString"] != meta["schemaString"]:
            meta = new_meta
            actions.append({"metaData": meta})

        def _remove(p: str) -> dict:
            # Spec action reconciliation keys add/remove on
            # (path, deletionVector uniqueness), so a remove must carry
            # the DV descriptor of the add it tombstones — a bare-path
            # remove would leave a prior add{path, DV} live for a
            # native reader (our own replayer keys by path alone and
            # tolerates either form).
            rm = {
                "path": live[p]["path"],
                "deletionTimestamp": now_ms,
                "dataChange": True,
            }
            old_dv = live[p].get("deletionVector")
            if old_dv:
                rm["deletionVector"] = old_dv
            return rm

        for p in live:
            if p not in cur:
                actions.append({"remove": _remove(p)})
        new_dv: dict[str, frozenset] = {}
        for p, a in cur.items():
            want = frozenset(dv_now.get(p, ()))
            if want:
                new_dv[p] = want
            if p not in live:
                if want:
                    cur[p] = a = _with_dv(a, want)
                actions.append({"add": a})
            elif want != live_dv.get(p, frozenset()):
                # DV content changed for a carried-forward file: log it
                # the way a native DV writer does — remove (carrying
                # the OLD descriptor) + re-add with the new cumulative
                # sidecar
                actions.append({"remove": _remove(p)})
                if want:
                    a = _with_dv(a, want)
                cur[p] = a
                actions.append({"add": a})
            else:
                # unchanged file keeps its existing descriptor (if any)
                cur[p] = live[p]
        live_dv = new_dv
        actions.append(
            {
                "commitInfo": {
                    "timestamp": now_ms,
                    "operation": "WRITE",
                    "engineInfo": f"data_lakehouse_spark export "
                    f"of {name}@v{entry['version']}",
                }
            }
        )
        with open(os.path.join(log_dir, f"{k:020d}.json"), "w") as f:
            for a in actions:
                f.write(json.dumps(a) + "\n")
        live = cur
        is_last = k == len(versions) - 1
        if checkpoint_interval and (
            is_last or (k - last_ckpt) >= checkpoint_interval
        ):
            _write_checkpoint(
                catalog.spark, log_dir, k, protocol, meta, live
            )
            last_ckpt = k
    return live, live_dv


_CKPT_DDL = (
    "protocol struct<minReaderVersion:int,minWriterVersion:int,"
    "readerFeatures:array<string>,writerFeatures:array<string>>, "
    "metaData struct<id:string,format:struct<provider:string,"
    "options:map<string,string>>,schemaString:string,"
    "partitionColumns:array<string>,configuration:map<string,string>,"
    "createdTime:long>, "
    "add struct<path:string,partitionValues:map<string,string>,"
    "size:long,modificationTime:long,dataChange:boolean,stats:string,"
    "deletionVector struct<storageType:string,pathOrInlineDv:string,"
    "offset:int,sizeInBytes:int,cardinality:long>>"
)


def _write_checkpoint(
    spark: SparkSession,
    log_dir: str,
    version: int,
    protocol: dict,
    meta: dict,
    live: dict[str, dict],
) -> None:
    """Classic single-file checkpoint at ``version``: the full replayed
    state (protocol + metaData + one ``add`` per live file) as ONE
    parquet, plus ``_last_checkpoint``. Terminal state only — expired
    ``remove`` tombstones are not retained, matching a
    post-retention-window checkpoint. Readers then replay just the
    JSON commits after ``version`` (the protocol's point: log replay
    cost stays O(tail), not O(history))."""
    rows = [
        (
            (
                protocol["minReaderVersion"],
                protocol["minWriterVersion"],
                protocol.get("readerFeatures"),
                protocol.get("writerFeatures"),
            ),
            None,
            None,
        )
    ]
    rows.append(
        (
            None,
            (
                meta["id"],
                (meta["format"]["provider"], meta["format"]["options"]),
                meta["schemaString"],
                meta["partitionColumns"],
                meta["configuration"],
                meta["createdTime"],
            ),
            None,
        )
    )
    for add in live.values():
        dv = add.get("deletionVector")
        rows.append(
            (
                None,
                None,
                (
                    add["path"],
                    add["partitionValues"],
                    add["size"],
                    add["modificationTime"],
                    add["dataChange"],
                    add["stats"],
                    (
                        dv["storageType"],
                        dv["pathOrInlineDv"],
                        dv.get("offset"),
                        dv["sizeInBytes"],
                        dv["cardinality"],
                    )
                    if dv
                    else None,
                ),
            )
        )
    import shutil

    target = os.path.join(log_dir, f"{version:020d}.checkpoint.parquet")
    tmp = os.path.join(log_dir, f"._ckpt_{version}")
    (
        spark.createDataFrame(rows, _CKPT_DDL)
        .coalesce(1)
        .write.mode("overwrite")
        .parquet(tmp)
    )
    part = next(
        f for f in os.listdir(tmp)
        if f.endswith(".parquet") and not f.startswith(".")
    )
    os.replace(os.path.join(tmp, part), target)
    shutil.rmtree(tmp, ignore_errors=True)
    with open(os.path.join(log_dir, "_last_checkpoint"), "w") as f:
        json.dump({"version": version, "size": len(rows)}, f)


# ---------------------------------------------------------------------------
# read
# ---------------------------------------------------------------------------


def _log_versions(log_dir: str) -> list[int]:
    out = []
    for f in os.listdir(log_dir):
        m = re.match(r"^(\d{20})\.json$", f)
        if m:
            out.append(int(m.group(1)))
    return sorted(out)


def _latest_checkpoint(log_dir: str) -> tuple[int, list[str]] | None:
    """(version, checkpoint parquet paths) of the newest checkpoint, or
    None. Handles single-file and multi-part checkpoint names."""
    last = os.path.join(log_dir, "_last_checkpoint")
    if not os.path.exists(last):
        return None
    with open(last) as f:
        info = json.load(f)
    v = int(info["version"])
    parts = info.get("parts")
    if parts:
        paths = [
            os.path.join(
                log_dir, f"{v:020d}.checkpoint.{i + 1:010d}.{parts:010d}.parquet"
            )
            for i in range(int(parts))
        ]
    else:
        paths = [os.path.join(log_dir, f"{v:020d}.checkpoint.parquet")]
    return (v, paths) if all(os.path.exists(p) for p in paths) else None


def read_delta(
    spark: SparkSession, location: str, *, version: int | None = None
) -> DataFrame:
    """Read a Delta table directory by replaying its log (checkpoint +
    JSON commits ≤ ``version``, default latest). Supports add/remove
    reconciliation, identity-partitioned tables (partition columns
    reconstructed from ``partitionValues`` and cast to the declared
    schema types), DELETION VECTORS (the modern writer's MOR path:
    per-file roaring-bitmap sidecars decoded per the public protocol
    and anti-joined on ``_metadata.row_index``), and COLUMN MAPPING
    (``delta.columnMapping.mode`` = ``name``/``id``: parquet files are
    read by each field's ``delta.columnMapping.physicalName`` and
    projected back to the logical schema, so renamed columns resolve
    correctly).

    Reconciliation follows the spec's (path, deletionVector.uniqueId)
    keying: within a JSON commit, removes are applied before adds (the
    action order inside one commit is not spec-fixed, and the standard
    DV-update pattern writes ``remove{path, oldDV}`` +
    ``add{path, newDV}`` for the same path); a remove cancels the live
    add only when its DV uniqueId matches (a bare-path remove — the
    legacy shape — cancels any version of the path). Checkpoint
    ``remove`` rows are pure vacuum tombstones for the files already
    absent from the checkpoint's add set and are ignored for liveness,
    so a checkpoint carrying both the tombstone and the re-added file
    can never drop the live add regardless of row order."""
    location = os.path.abspath(location)
    log_dir = os.path.join(location, "_delta_log")
    versions = _log_versions(log_dir)
    if not versions:
        raise ValueError(f"{location}: no _delta_log commits")
    target = version if version is not None else versions[-1]
    if target not in versions and version is not None:
        # commits before a cleaned-up checkpoint may be gone
        raise ValueError(f"{location}: version {target} not in log")

    live: dict[str, dict] = {}
    meta: dict | None = None
    protocol: dict | None = None

    def _dv_uid(action: dict) -> str | None:
        """deletionVector.uniqueId per the protocol: storageType +
        pathOrInlineDv (+ @offset when present). The spec keys file
        Action Reconciliation on (path, uniqueId)."""
        dv = action.get("deletionVector")
        if not dv:
            return None
        uid = f"{dv.get('storageType', '')}{dv.get('pathOrInlineDv', '')}"
        if dv.get("offset") is not None:
            uid += f"@{dv['offset']}"
        return uid

    def _apply_commit(removes: list[dict], adds: list[dict]) -> None:
        """Apply one commit's file actions order-independently:
        removes first (cancel only the matching (path, dvId) version;
        bare-path removes cancel any version), then adds (a path has
        at most one live version, so an add supersedes it)."""
        for rem in removes:
            cur = live.get(rem["path"])
            if cur is not None and (
                _dv_uid(rem) is None or _dv_uid(rem) == _dv_uid(cur)
            ):
                live.pop(rem["path"])
        for add in adds:
            live[add["path"]] = add

    ckpt = _latest_checkpoint(log_dir)
    start = 0
    if ckpt and ckpt[0] <= target:
        cv, paths = ckpt
        cdf = spark.read.parquet(*paths)
        cols = set(cdf.columns)
        rows = cdf.select(
            *[c for c in ("add", "remove", "metaData", "protocol")
              if c in cols]
        ).collect()
        # a checkpoint IS the reconciled state: its add rows are the
        # live set; remove rows are retained vacuum tombstones whose
        # files are by definition absent from the add set — using them
        # to pop adds would let a tombstone for a path's OLD
        # (path, dvId) version drop the re-added live version whenever
        # the checkpoint writer happened to order the rows that way
        for r in rows:
            d = r.asDict(recursive=True)
            if d.get("add"):
                live[d["add"]["path"]] = d["add"]
            if d.get("metaData") and d["metaData"].get("schemaString"):
                meta = d["metaData"]
            if d.get("protocol") and d["protocol"].get(
                "minReaderVersion"
            ) is not None:
                protocol = d["protocol"]
        start = cv + 1

    for v in versions:
        if v < start or v > target:
            continue
        removes: list[dict] = []
        adds: list[dict] = []
        with open(os.path.join(log_dir, f"{v:020d}.json")) as f:
            for line in f:
                if not line.strip():
                    continue
                a = json.loads(line)
                if "add" in a:
                    adds.append(a["add"])
                elif "remove" in a:
                    removes.append(a["remove"])
                elif "metaData" in a:
                    meta = a["metaData"]
                elif "protocol" in a:
                    protocol = a["protocol"]
        _apply_commit(removes, adds)
    if meta is None:
        raise ValueError(f"{location}: no metaData action in log")
    if protocol and protocol.get("minReaderVersion", 1) > 1:
        feats = protocol.get("readerFeatures") or []
        unsupported = [
            ft for ft in feats
            if ft not in (
                "timestampNtz", "v2Checkpoint", "deletionVectors",
                "columnMapping",
            )
        ]
        if unsupported:
            raise ValueError(
                f"{location}: reader features {unsupported} not supported"
            )
    cmap_mode = (meta.get("configuration") or {}).get(
        "delta.columnMapping.mode", "none"
    ) or "none"
    if cmap_mode not in ("none", "name", "id"):
        raise ValueError(
            f"{location}: column mapping mode {cmap_mode!r} not supported"
        )
    if not live:
        raise ValueError(f"{location}: table has no live data files")

    schema_json = json.loads(meta["schemaString"])
    schema = StructType.fromJson(schema_json)
    part_cols = meta.get("partitionColumns") or []
    types = {f.name: f.dataType for f in schema.fields}

    # column mapping (mode name/id): parquet columns are stored under
    # each field's delta.columnMapping.physicalName annotation (writers
    # name physical columns this way in BOTH modes); build the physical
    # read schema by recursively renaming every struct field, then
    # project back to logical names after the scan. A struct cast
    # renames nested fields positionally, so one top-level
    # cast+alias per column restores the full logical shape.
    mapped = cmap_mode in ("name", "id")

    def _physicalize_type(t):
        if isinstance(t, dict):
            if t.get("type") == "struct":
                return {
                    **t,
                    "fields": [
                        {
                            **f,
                            "name": (f.get("metadata") or {}).get(
                                "delta.columnMapping.physicalName",
                                f["name"],
                            ),
                            "type": _physicalize_type(f["type"]),
                        }
                        for f in t["fields"]
                    ],
                }
            if t.get("type") == "array":
                return {
                    **t,
                    "elementType": _physicalize_type(t["elementType"]),
                }
            if t.get("type") == "map":
                return {
                    **t,
                    "keyType": _physicalize_type(t["keyType"]),
                    "valueType": _physicalize_type(t["valueType"]),
                }
        return t

    if mapped:
        phys_schema = StructType.fromJson(_physicalize_type(schema_json))
    else:
        phys_schema = schema
    # logical -> physical top-level name (identity when unmapped);
    # add.partitionValues keys use PHYSICAL names under column mapping
    # while metaData.partitionColumns stays logical
    phys_of = {
        lf.name: pf.name
        for lf, pf in zip(schema.fields, phys_schema.fields)
    }

    def _logicalize(df: DataFrame) -> DataFrame:
        if not mapped:
            return df
        keep = [
            F.col(f"`{phys_of[f.name]}`").cast(f.dataType).alias(f.name)
            for f in schema.fields
        ]
        extra = [
            F.col(c) for c in ("__dv_file", "__dv_idx")
            if c in df.columns
        ]
        return df.select(*keep, *extra)

    def _abs(p: str) -> str:
        return os.path.join(location, _uri_path(p))

    # deletion vectors: decode each file's sidecar bitmap (driver-side
    # — DVs are metadata-sized, bounded by a file's row count) into
    # (file path as Spark reports it, deleted row index) pairs; applied
    # below as ONE broadcast anti-join on _metadata lineage, keeping the
    # scan itself vectorized
    dv_map = {
        _spark_uri(_abs(p)): a["deletionVector"]
        for p, a in live.items()
        if a.get("deletionVector")
    }

    def _apply_dvs(df: DataFrame) -> DataFrame:
        from data_lakehouse_spark.interop.dv import dv_indexes

        import pandas as pd

        pairs = pd.DataFrame(
            [
                (path, idx)
                for path, desc in sorted(dv_map.items())
                for idx in dv_indexes(location, desc)
            ],
            columns=["__dv_kill_file", "__dv_kill_idx"],
        )
        dels = spark.createDataFrame(
            pairs, "__dv_kill_file string, __dv_kill_idx bigint"
        )
        # the kill keys are rendered as Spark renders _metadata.file_path
        out = df.join(
            F.broadcast(dels),
            (F.col("__dv_file") == F.col("__dv_kill_file"))
            & (F.col("__dv_idx") == F.col("__dv_kill_idx")),
            "left_anti",
        )
        return out.drop("__dv_file", "__dv_idx")

    def _with_lineage(df: DataFrame) -> DataFrame:
        return df.select(
            "*",
            F.col("_metadata.file_path").alias("__dv_file"),
            F.col("_metadata.row_index").alias("__dv_idx"),
        )

    if not part_cols:
        df = spark.read.schema(phys_schema).parquet(
            *[_abs(p) for p in live]
        )
        if dv_map:
            df = _with_lineage(df)
        df = _logicalize(df)
        if dv_map:
            df = _apply_dvs(df)
        return df

    # partition columns live in partitionValues, not the files: group
    # files by their partition tuple, read each group once, attach the
    # literals cast to the declared types, union
    file_schema = StructType(
        [
            pf
            for lf, pf in zip(schema.fields, phys_schema.fields)
            if lf.name not in part_cols
        ]
    )
    groups: dict[tuple, list[str]] = {}
    for p, add in live.items():
        key = tuple(
            (add.get("partitionValues") or {}).get(phys_of[c])
            for c in part_cols
        )
        groups.setdefault(key, []).append(_abs(p))
    out: DataFrame | None = None
    # None-safe sort key: partition tuples may mix null and strings
    for key, paths in sorted(
        groups.items(), key=lambda kv: tuple(str(k) for k in kv[0])
    ):
        df = spark.read.schema(file_schema).parquet(*paths)
        if dv_map:
            df = _with_lineage(df)
        for c, v in zip(part_cols, key):
            df = df.withColumn(
                phys_of[c],
                (F.lit(None) if v is None else F.lit(v)).cast(
                    types[c]
                ),
            )
        keep = [phys_of[f.name] for f in schema.fields]
        if dv_map:
            keep += ["__dv_file", "__dv_idx"]
        df = df.select(*[F.col(f"`{c}`") for c in keep])
        out = df if out is None else out.unionByName(df)
    out = _logicalize(out)
    return _apply_dvs(out) if dv_map else out
