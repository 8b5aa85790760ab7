"""Apache Iceberg v2 export / read — open-format interoperability for
the catalog.

The reference's entire storage contract is genuine Iceberg v2 (REST
catalog at ``spark/spark-defaults.conf:16-22``; ``format-version`` 2
tables created by ``spark/jobs/bronze_ingestion.py:36-49``): any second
engine — Trino, DuckDB, pyiceberg — can read its tables. The catalog
here is semantically at parity (snapshots, time travel, MOR deletes,
branches) but stores a private manifest format, so this module closes
the interop gap:

- :func:`export_iceberg` writes a REAL Iceberg v2 table (JSON table
  metadata + Avro manifest list + Avro manifest, per the public
  Iceberg table spec, https://iceberg.apache.org/spec/) for a catalog
  table's current snapshot. Zero data movement in the default path:
  the Iceberg manifests reference the catalog's existing parquet files
  in place. Manifests are written with the Apache Avro JAVA library
  bundled with Spark (the same implementation Iceberg itself uses), so
  the container files are produced by the reference Avro writer, not a
  home-grown encoder. :func:`export_iceberg_history` writes every
  published snapshot through the same snapshot writer
  (:func:`_write_snapshot`: data manifest, delete manifest, manifest
  list) and the same table-metadata writer; the data files of each
  snapshot come from :func:`data_lakehouse_spark.catalog.snapshot_files`.
- :func:`read_iceberg` reads an Iceberg table directory into a
  DataFrame using an INDEPENDENT pure-Python implementation of the
  spec (JSON metadata walk + a from-scratch Avro OCF decoder). Tests
  round-trip export→read, giving a genuine cross-implementation check
  (Java Avro writer vs Python Avro reader) even though this container
  ships no pyiceberg/duckdb-iceberg to read against.

Scale note: export is O(files) metadata work — no data is read, only
parquet FOOTERS (record counts) — so exporting a 100 TB table costs
what listing it costs. Materializing paths (MOR deletes, hive
partitioning) rewrite through Spark and cost one full scan, stated
loudly below.
"""

from __future__ import annotations

import json
import os
import re
import struct
import time
import uuid
import zlib

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_lakehouse_spark.catalog import _local_path, _spark_uri, snapshot_files

__all__ = ["export_iceberg", "export_iceberg_history", "read_iceberg"]


# ---------------------------------------------------------------------------
# Spark schema JSON  ->  Iceberg schema JSON
# ---------------------------------------------------------------------------

_PRIMITIVES = {
    "boolean": "boolean",
    "byte": "int",
    "short": "int",
    "integer": "int",
    "long": "long",
    "float": "float",
    "double": "double",
    "string": "string",
    "binary": "binary",
    "date": "date",
    # Spark TIMESTAMP is session-tz-relative instant -> Iceberg timestamptz;
    # TIMESTAMP_NTZ is the wall-clock type -> Iceberg timestamp
    "timestamp": "timestamptz",
    "timestamp_ntz": "timestamp",
}


class _IdGen:
    def __init__(self, start: int) -> None:
        self.next_id = start

    def take(self) -> int:
        self.next_id += 1
        return self.next_id


def _iceberg_type(t, ids: _IdGen):
    """Convert a Spark schema-JSON type to an Iceberg type. Nested
    element/key/value ids are freshly assigned past the top-level ids
    (the catalog only tracks top-level field ids)."""
    if isinstance(t, str):
        if t in _PRIMITIVES:
            return _PRIMITIVES[t]
        m = re.match(r"^decimal\((\d+),(\d+)\)$", t)
        if m:
            return f"decimal({m.group(1)}, {m.group(2)})"
        raise ValueError(f"cannot export Spark type {t!r} to Iceberg")
    kind = t.get("type")
    if kind == "array":
        return {
            "type": "list",
            "element-id": ids.take(),
            "element": _iceberg_type(t["elementType"], ids),
            "element-required": not t.get("containsNull", True),
        }
    if kind == "map":
        return {
            "type": "map",
            "key-id": ids.take(),
            "key": _iceberg_type(t["keyType"], ids),
            "value-id": ids.take(),
            "value": _iceberg_type(t["valueType"], ids),
            "value-required": not t.get("valueContainsNull", True),
        }
    if kind == "struct":
        return {
            "type": "struct",
            "fields": [
                {
                    "id": ids.take(),
                    "name": f["name"],
                    "required": not f.get("nullable", True),
                    "type": _iceberg_type(f["type"], ids),
                }
                for f in t["fields"]
            ],
        }
    raise ValueError(f"cannot export Spark type {t!r} to Iceberg")


def _iceberg_schema(catalog_schema: dict) -> tuple[dict, int, list[dict]]:
    """(iceberg schema json, last-column-id, name-mapping) from the
    catalog's Spark schema JSON (top-level field ids are the catalog's
    stable ids — preserved so an Iceberg reader sees the same id
    space)."""
    top_ids = [
        (f.get("metadata") or {}).get("field_id") for f in catalog_schema["fields"]
    ]
    if any(i is None for i in top_ids):
        # non-catalog schema (no stable ids): assign positionally
        top_ids = list(range(1, len(catalog_schema["fields"]) + 1))
    ids = _IdGen(max(top_ids))
    fields = []
    mapping = []
    for f, fid in zip(catalog_schema["fields"], top_ids):
        fields.append(
            {
                "id": fid,
                "name": f["name"],
                "required": not f.get("nullable", True),
                "type": _iceberg_type(f["type"], ids),
            }
        )
        mapping.append({"field-id": fid, "names": [f["name"]]})
    schema = {"type": "struct", "schema-id": 0, "fields": fields}
    return schema, ids.next_id, mapping


# ---------------------------------------------------------------------------
# Avro schemas for v2 manifests (field names / ids per the Iceberg spec)
# ---------------------------------------------------------------------------

_MANIFEST_LIST_SCHEMA = {
        "type": "record",
        "name": "manifest_file",
        "fields": [
            {"name": "manifest_path", "type": "string", "field-id": 500},
            {"name": "manifest_length", "type": "long", "field-id": 501},
            {"name": "partition_spec_id", "type": "int", "field-id": 502},
            {"name": "content", "type": "int", "field-id": 517},
            {"name": "sequence_number", "type": "long", "field-id": 515},
            {"name": "min_sequence_number", "type": "long", "field-id": 516},
            {"name": "added_snapshot_id", "type": "long", "field-id": 503},
            {"name": "added_files_count", "type": "int", "field-id": 504},
            {"name": "existing_files_count", "type": "int", "field-id": 505},
            {"name": "deleted_files_count", "type": "int", "field-id": 506},
            {"name": "added_rows_count", "type": "long", "field-id": 512},
            {"name": "existing_rows_count", "type": "long", "field-id": 513},
            {"name": "deleted_rows_count", "type": "long", "field-id": 514},
        ],
}

# unpartitioned spec-0: the partition struct is an EMPTY record
_MANIFEST_ENTRY_SCHEMA = {
        "type": "record",
        "name": "manifest_entry",
        "fields": [
            {"name": "status", "type": "int", "field-id": 0},
            {
                "name": "snapshot_id",
                "type": ["null", "long"],
                "default": None,
                "field-id": 1,
            },
            {
                "name": "sequence_number",
                "type": ["null", "long"],
                "default": None,
                "field-id": 3,
            },
            {
                "name": "file_sequence_number",
                "type": ["null", "long"],
                "default": None,
                "field-id": 4,
            },
            {
                "name": "data_file",
                "field-id": 2,
                "type": {
                    "type": "record",
                    "name": "r2",
                    "fields": [
                        {"name": "content", "type": "int", "field-id": 134},
                        {"name": "file_path", "type": "string", "field-id": 100},
                        {"name": "file_format", "type": "string", "field-id": 101},
                        {
                            "name": "partition",
                            "field-id": 102,
                            "type": {"type": "record", "name": "r102", "fields": []},
                        },
                        {"name": "record_count", "type": "long", "field-id": 103},
                        {
                            "name": "file_size_in_bytes",
                            "type": "long",
                            "field-id": 104,
                        },
                        {
                            # spec field 135: the schema field ids an
                            # equality delete file (content=2) matches
                            # on; null for data/position files
                            "name": "equality_ids",
                            "type": [
                                "null",
                                {
                                    "type": "array",
                                    "items": "int",
                                    "element-id": 136,
                                },
                            ],
                            "default": None,
                            "field-id": 135,
                        },
                    ],
                },
            },
        ],
}


# ---------------------------------------------------------------------------
# Avro writing (Apache Avro JAVA library via the Spark JVM)
# ---------------------------------------------------------------------------


def _avro_json(schema, v):
    """Encode a python value as Avro-JSON for the given schema node
    (union branches labeled ``{"long": 1}``, records field-ordered) —
    the wire format Java's schema-driven ``JsonDecoder`` parses into
    correctly-typed ``GenericRecord``s. Building records through py4j
    directly cannot work: py4j auto-unboxes ``Long.valueOf`` results
    back to python ints and re-boxes small ints as ``Integer``, which
    Avro rejects for ``long``/union fields."""
    if isinstance(schema, list):  # union
        if v is None:
            return None
        branch = next(b for b in schema if b != "null")
        # Avro-JSON union labels: primitive name, named-type name, or
        # the complex kind ("array"/"map") for anonymous complex types
        label = (
            branch
            if isinstance(branch, str)
            else branch.get("name") or branch["type"]
        )
        return {label: _avro_json(branch, v)}
    if isinstance(schema, str):
        return v
    t = schema["type"]
    if t == "record":
        v = v or {}
        return {
            f["name"]: _avro_json(f["type"], v.get(f["name"]))
            for f in schema["fields"]
        }
    if t == "array":
        return [_avro_json(schema["items"], x) for x in (v or [])]
    if t == "map":
        return {k: _avro_json(schema["values"], x) for k, x in (v or {}).items()}
    return v


def _write_avro(
    spark: SparkSession,
    path: str,
    schema: dict,
    rows: list[dict],
    meta: dict[str, str],
) -> None:
    """Write an Avro OCF with the Apache Avro JAVA library (bundled
    with Spark): rows go over as Avro-JSON and are parsed by Java's
    JsonDecoder against the schema, so the on-disk bytes come from the
    reference implementation's encoder."""
    jvm = spark._jvm
    schema_str = json.dumps(schema)
    jschema = jvm.org.apache.avro.Schema.Parser().parse(schema_str)
    writer = jvm.org.apache.avro.generic.GenericDatumWriter(jschema)
    reader = jvm.org.apache.avro.generic.GenericDatumReader(jschema)
    factory = jvm.org.apache.avro.io.DecoderFactory.get()
    dfw = jvm.org.apache.avro.file.DataFileWriter(writer)
    for k, v in meta.items():
        dfw.setMeta(k, v)
    dfw.create(jschema, jvm.java.io.File(path))
    try:
        for row in rows:
            decoder = factory.jsonDecoder(
                jschema, json.dumps(_avro_json(schema, row))
            )
            dfw.append(reader.read(None, decoder))
    finally:
        dfw.close()


# ---------------------------------------------------------------------------
# Export
# ---------------------------------------------------------------------------


#: Iceberg primitive -> Avro type for partition-struct fields (only
#: these partition-value types export zero-copy; others materialize)
_PART_AVRO = {"int": "int", "long": "long", "string": "string"}


def _entry_schema_with_partition(part_fields: list[dict]) -> dict:
    """Manifest-entry Avro schema whose r102 partition record carries
    the identity partition fields (nullable, spec field-ids 1000+)."""
    schema = json.loads(json.dumps(_MANIFEST_ENTRY_SCHEMA))
    df_schema = next(
        f for f in schema["fields"] if f["name"] == "data_file"
    )["type"]
    part = next(f for f in df_schema["fields"] if f["name"] == "partition")
    part["type"]["fields"] = [
        {
            "name": pf["name"],
            "type": ["null", _PART_AVRO[pf["ice_type"]]],
            "default": None,
            "field-id": pf["field-id"],
        }
        for pf in part_fields
    ]
    return schema


def export_iceberg(
    catalog,
    name: str,
    dest: str,
    *,
    materialize: bool | None = None,
) -> dict:
    """Export the catalog table's CURRENT snapshot as an Apache Iceberg
    v2 table at ``dest`` (``dest/metadata/v1.metadata.json`` +
    ``version-hint.text`` + Avro manifests — the HadoopTables layout
    any Iceberg reader can open by path).

    Default is ZERO-COPY: manifests reference the catalog's existing
    parquet files in place (absolute paths; Iceberg permits files
    outside the table location). Costs O(files) footer reads, no data
    scan — the property that makes exporting a 100 TB table a metadata
    operation. IDENTITY-hive-partitioned tables stay zero-copy: the
    export writes a real identity partition spec and per-file partition
    structs parsed from the directory layout — the spec's reading rule
    ("use the partition value for identity-transformed fields missing
    from the data file") restores the column values. EQUALITY deletes
    (``delete_where(mode='mor-eq')``) also export zero-copy — the
    catalog's key parquet is the spec's content=2 wire shape, so the
    export writes a real delete manifest with ``equality_ids`` and
    per-file sequence numbers (data files carry their commit order;
    the spec's strictly-lower rule then replays exactly the catalog's
    MOR semantics in any Iceberg reader). POSITIONAL merge-on-read
    delete files (the catalog's (_file,_pos) encoding is not
    Iceberg's) re-encode into ONE spec content=1 delete file —
    ``(file_path, pos)`` with the reserved field ids, O(deleted rows)
    new bytes, no data rewrite — gated on the delete set fitting the
    broadcast threshold (the driver-side translation must stay
    bounded; past it, fold deletes with ``rewrite_position_deletes``
    first). Shapes that force ``materialize=True`` (one Spark rewrite
    into ``dest/data/``, auto-detected): an oversized
    positional-delete set, an equality delete whose key columns were
    since renamed, and hidden-transform partitioning (``days(ts)``
    etc. — derived values are not identity-restorable).

    The exported snapshot is FROZEN: later catalog commits don't
    appear (re-export for a new snapshot), and
    ``catalog.expire_snapshots`` can reclaim zero-copy-referenced
    files — the same caveat as shallow clones.

    A ``schema.name-mapping.default`` property carries the catalog's
    stable field ids for the parquet files, which were written without
    embedded Iceberg ids (name mapping is the spec's mechanism for
    exactly this).
    """
    h, entries = catalog._entries(name)
    head = catalog._main_head(entries, name)
    pos_dd = [d for d in (head.get("delete_dirs") or []) if isinstance(d, str)]
    eq_dd = [d for d in (head.get("delete_dirs") or []) if isinstance(d, dict)]
    pb = list(head.get("partition_by") or [])
    schema, last_col_id, name_mapping = _iceberg_schema(head["schema"])
    ice_types = {f["name"]: f["type"] for f in schema["fields"]}
    cur_names = {f["name"] for f in schema["fields"]}
    identity_ok = all(
        isinstance(ice_types.get(c), str) and ice_types[c] in _PART_AVRO
        for c in pb
    )
    # EQUALITY deletes export zero-copy as spec content=2 delete files
    # (the key parquet IS the spec's wire shape) with true sequence
    # numbers — only POSITIONAL deletes force a rewrite (the catalog's
    # (_file,_pos) encoding is not Iceberg's), as does a delete whose
    # recorded key columns were renamed since (the exported file's
    # column names must match the current schema for readers that
    # resolve ids by name mapping).
    eq_renamed = any(
        c not in cur_names for d in eq_dd for c in d.get("cols", [])
    )
    # applies_to records (deletes scoped to a fixed dir list — the
    # clone shapes) cannot export zero-copy: their coverage is NOT the
    # strictly-lower sequence rule an external Iceberg reader applies,
    # so shipping cross-version-space sequence numbers would mis-scope
    # the delete in any spec-conformant reader
    eq_pinned = any(d.get("applies_to") is not None for d in eq_dd)
    has_pos = bool(pos_dd)
    # positional deletes re-encode into spec content=1 delete files
    # (file_path, pos — O(deleted rows) metadata, no data rewrite); the
    # translation groups the delete set on the driver, so it is gated
    # on the delete dirs' bytes vs the broadcast threshold, same as the
    # Delta DV encode. Past it: materialize (fold deletes first via
    # rewrite_position_deletes to restore zero-copy).
    pos_bytes = (
        sum(catalog._dir_bytes(h, d) for d in pos_dd) if pos_dd else 0
    )
    pos_fits = pos_bytes <= catalog._broadcast_threshold()
    must_materialize = (
        (has_pos and not pos_fits)
        or eq_renamed
        or eq_pinned
        or (bool(pb) and not identity_ok)
    )
    if materialize is None:
        materialize = must_materialize
    if must_materialize and not materialize:
        raise ValueError(
            f"cannot zero-copy export {name}: "
            + (f"its positional-delete set ({pos_bytes} bytes) exceeds "
               "the broadcast threshold (driver-side re-encode would be "
               "unbounded — fold deletes first via "
               "rewrite_position_deletes); "
               if has_pos and not pos_fits else "")
            + ("an equality delete's key columns were renamed; "
               if eq_renamed else "")
            + ("an equality delete is scoped to a fixed dir list "
               "(clone) whose coverage the spec's sequence rule cannot "
               "express; " if eq_pinned else "")
            + ("its partitioning is not identity-restorable; "
               if pb and not identity_ok else "")
            + "pass materialize=True (one rewrite into the export)"
        )
    export_eq = eq_dd if not materialize else []
    export_pos = pos_dd if not materialize else []

    dest = os.path.abspath(dest)
    os.makedirs(os.path.join(dest, "metadata"), exist_ok=True)
    part_cols = [] if materialize else pb
    field_ids = {f["name"]: f["id"] for f in schema["fields"]}
    n_rows: dict[str, int] = {}
    dirs = head["data_dirs"]
    if materialize:
        dirs = [os.path.join(dest, "data")]
        catalog.read(name).write.mode("overwrite").parquet(dirs[0])
    # Iceberg sequence numbers are 1-based; catalog commit versions are
    # 0-based — shift by one. Without equality deletes every file
    # exports at seq 1 (the single-snapshot shape); with them the
    # per-dir commit order is what the spec's strictly-lower rule
    # reads, so it must ship.
    data_files = _data_files(
        h, dirs, part_cols, ice_types, n_rows,
        lambda d: (catalog._dir_seq(entries, d) + 1) if export_eq else 1,
    )

    # equality delete files: the catalog's key parquet IS the spec's
    # content=2 wire shape; equality_ids come from the export schema's
    # field ids (stable across the catalog -> Iceberg id space)
    eq_files = []
    for rec in export_eq:
        for f in _data_files(
            h, [rec["dir"]], [], ice_types, n_rows,
            lambda d, s=int(rec["seq"]) + 1: s,
        ):
            eq_files.append({**f, "ids": [field_ids[c] for c in rec["cols"]]})

    data_seq = max([f["seq"] for f in data_files] or [1])
    # positional deletes → ONE spec content=1 delete file under
    # dest/deletes/: (file_path, pos) sorted, with the spec's RESERVED
    # field ids (2147483546 / 2147483545) embedded so id-resolving
    # readers need no name mapping. The file_path rendering must equal
    # the manifest's data-file paths exactly — any reference that
    # matches no listed file fails loudly (silent mismatch would
    # resurrect deleted rows). They reference exact (file_path, pos)
    # pairs, so their sequence only needs to cover the referenced files
    # (the spec applies them to data files with seq <= delete seq).
    pos_del_files = []
    if export_pos:
        import pyarrow as pa
        import pyarrow.parquet as papq

        by_file = catalog._positions_by_file(h, export_pos)
        unknown = sorted(set(by_file) - {f["path"] for f in data_files})
        if unknown:
            raise ValueError(
                f"export_iceberg {name}: positional-delete reference "
                f"{unknown[0]} matched no listed data file (path rendering "
                "mismatch?)"
            )
        pairs = sorted((p, i) for p, idxs in by_file.items() for i in idxs)
        del_dir = os.path.join(dest, "deletes")
        os.makedirs(del_dir, exist_ok=True)
        pos_path = os.path.join(
            del_dir, f"posdel-{uuid.uuid4()}.parquet"
        )
        papq.write_table(
            pa.Table.from_arrays(
                [
                    pa.array([p for p, _ in pairs], pa.string()),
                    pa.array([i for _, i in pairs], pa.int64()),
                ],
                schema=pa.schema(
                    [
                        pa.field(
                            "file_path", pa.string(), nullable=False,
                            metadata={b"PARQUET:field_id": b"2147483546"},
                        ),
                        pa.field(
                            "pos", pa.int64(), nullable=False,
                            metadata={b"PARQUET:field_id": b"2147483545"},
                        ),
                    ]
                ),
            ),
            pos_path,
        )
        pos_del_files.append(
            {
                "path": pos_path,
                "bytes": os.path.getsize(pos_path),
                "rows": len(pairs),
                "seq": data_seq,
            }
        )

    snapshot_id = uuid.uuid4().int % ((1 << 62) - 1) + 1
    del_files = eq_files + pos_del_files
    part_fields = _part_fields(part_cols, schema)
    total_rows = sum(f["rows"] for f in data_files)
    snap = _write_snapshot(
        catalog.spark, os.path.join(dest, "metadata"), snapshot_id, schema,
        part_fields, data_files, del_files,
        max([data_seq] + [f["seq"] for f in del_files]),
    )
    snap.update(
        {
            "timestamp-ms": int(time.time() * 1000),
            "summary": {
                "operation": "append",
                "added-data-files": str(len(data_files)),
                "added-records": str(total_rows),
            },
        }
    )
    _write_metadata(
        dest, schema, last_col_id, part_fields, [snap],
        {
            "schema.name-mapping.default": json.dumps(name_mapping),
            "exported-from": f"data_lakehouse_spark:{name}"
            f"@v{head['version']}",
        },
        delete_spec=bool(del_files and part_fields),
    )
    return {
        "table": name,
        "location": dest,
        "snapshot_id": snapshot_id,
        "data_files": len(data_files),
        "delete_files": len(eq_files),
        "position_delete_files": len(pos_del_files),
        "rows": total_rows,
        "materialized": bool(materialize),
        "partition_columns": part_cols,
    }


def export_iceberg_history(catalog, name: str, dest: str) -> dict:
    """Export EVERY published main-lineage snapshot of a catalog table
    as one Iceberg v2 table with a full snapshot history — external
    time travel over the catalog's versions
    (``read_iceberg(..., snapshot_id=...)`` / any Iceberg reader's
    ``VERSION AS OF``).

    Zero-copy only: each catalog version becomes an Iceberg snapshot
    written by the same manifest / manifest-list writer as
    :func:`export_iceberg`, referencing that version's files in place,
    with increasing sequence numbers and a monotone snapshot-log.
    Refused shapes (export the current snapshot with
    :func:`export_iceberg` instead): any version carrying MOR delete
    files, non-identity partition values, or a partition-spec change
    across versions (old dirs' layouts would parse wrong under the
    final spec). Expired versions are skipped (their files are
    reclaimed).

    Cost is O(total files across versions) metadata — shared dirs are
    re-listed per snapshot (manifest reuse is an optimization the
    single-writer layout doesn't need locally, noted for scale); each
    file's footer is read once."""
    h, entries = catalog._entries(name)
    versions = [
        e
        for e in entries
        if "branch" not in e and not e.get("staged") and not e.get("expired")
    ]
    if not versions:
        raise ValueError(f"table {name} has no published snapshots")
    specs = {
        tuple(e.get("partition_by") or []) for e in versions
    }
    if len(specs) > 1:
        raise ValueError(
            f"{name}: partition spec changed across versions {specs}; "
            "history export supports a constant spec — export the "
            "current snapshot instead"
        )
    if any(e.get("delete_dirs") for e in versions):
        raise ValueError(
            f"{name}: history export is zero-copy only and a version "
            "carries MOR delete files; export the current snapshot "
            "with materialize=True instead"
        )

    head = versions[-1]
    pb = list(head.get("partition_by") or [])
    schema, last_col_id, _ = _iceberg_schema(head["schema"])
    ice_types = {f["name"]: f["type"] for f in schema["fields"]}
    if not all(
        isinstance(ice_types.get(c), str) and ice_types[c] in _PART_AVRO
        for c in pb
    ):
        raise ValueError(
            f"{name}: partition values are not identity-restorable; "
            "history export refused"
        )
    part_fields = _part_fields(pb, schema)
    # name mapping: every name each field id EVER had (renames resolve
    # old files under old names — multiple names per id is the spec's
    # mechanism)
    names_by_id: dict[int, list[str]] = {}
    for e in versions:
        for f in e["schema"]["fields"]:
            fid = (f.get("metadata") or {}).get("field_id")
            if fid is not None and f["name"] not in names_by_id.setdefault(
                fid, []
            ):
                names_by_id[fid].append(f["name"])
    name_mapping = [
        {"field-id": fid, "names": names}
        for fid, names in sorted(names_by_id.items())
    ]

    dest = os.path.abspath(dest)
    meta_dir = os.path.join(dest, "metadata")
    os.makedirs(meta_dir, exist_ok=True)
    base_id = uuid.uuid4().int % ((1 << 53) - 1) + 1
    now_ms = int(time.time() * 1000)
    n_rows: dict[str, int] = {}
    snapshots: list[dict] = []
    for i, e in enumerate(versions):
        seq = i + 1
        files = _data_files(
            h, e["data_dirs"], pb, ice_types, n_rows, lambda d, s=seq: s
        )
        snap = _write_snapshot(
            catalog.spark, meta_dir, base_id + e["version"], schema,
            part_fields, files, [], seq,
        )
        if snapshots:
            snap["parent-snapshot-id"] = snapshots[-1]["snapshot-id"]
        snap.update(
            {
                "timestamp-ms": now_ms + i,  # strictly increasing log
                "summary": {
                    "operation": e.get("op", "append"),
                    "total-records": str(sum(f["rows"] for f in files)),
                    "catalog-version": str(e["version"]),
                },
            }
        )
        snapshots.append(snap)
    _write_metadata(
        dest, schema, last_col_id, part_fields, snapshots,
        {
            "schema.name-mapping.default": json.dumps(name_mapping),
            "exported-from": f"data_lakehouse_spark:{name} (full history)",
        },
        delete_spec=False,
    )
    return {
        "table": name,
        "location": dest,
        "snapshots": [
            {
                "catalog_version": v["version"],
                "snapshot_id": base_id + v["version"],
            }
            for v in versions
        ],
    }


def _data_files(
    h, dirs: list[str], part_cols: list[str], ice_types: dict, n_rows: dict,
    seq_of,
) -> list[dict]:
    """Manifest rows of the parquet files of snapshot ``dirs``: path,
    bytes, footer row count (memoized in ``n_rows`` — shared dirs are
    immutable), identity partition values typed for the spec and the
    file's sequence number ``seq_of(dir)``."""
    import pyarrow.parquet as pq

    out = []
    for f in snapshot_files(h.path, dirs, part_cols):
        if f.path not in n_rows:
            n_rows[f.path] = pq.read_metadata(f.path).num_rows
        out.append(
            {
                "path": f.path,
                "bytes": f.bytes,
                "rows": n_rows[f.path],
                "partition": {
                    k: int(v)
                    if v is not None and ice_types[k] in ("int", "long")
                    else v
                    for k, v in f.partition.items()
                },
                "seq": seq_of(f.dir),
            }
        )
    return out


def _write_snapshot(
    spark: SparkSession,
    meta_dir: str,
    snapshot_id: int,
    schema: dict,
    part_fields: list[dict],
    data_files: list[dict],
    del_files: list[dict],
    seq: int,
) -> dict:
    """Write snapshot ``snapshot_id``'s data manifest, delete manifest
    (when ``del_files``) and manifest list → its ``snapshots`` entry
    without timestamp and summary. ``data_files`` / ``del_files`` rows
    carry path, bytes, rows, seq and, for data, the partition tuple;
    equality deletes also carry their ``ids``. ``seq`` is the
    snapshot's sequence number."""
    commit_uuid = str(uuid.uuid4())
    spec_json = _spec_json(part_fields)
    entry_schema = (
        _entry_schema_with_partition(part_fields)
        if part_fields
        else _MANIFEST_ENTRY_SCHEMA
    )

    def _entry(f: dict, content: int, partition) -> dict:
        return {
            "status": 1,  # ADDED
            "snapshot_id": snapshot_id,
            "sequence_number": f["seq"],
            "file_sequence_number": f["seq"],
            "data_file": {
                "content": content,
                "file_path": f["path"],
                "file_format": "PARQUET",
                "partition": partition,
                "record_count": f["rows"],
                "file_size_in_bytes": f["bytes"],
                "equality_ids": f.get("ids"),
            },
        }

    def _manifest(suffix: str, content: int, files, spec_id: int, rows) -> dict:
        path = os.path.join(meta_dir, f"{commit_uuid}-{suffix}.avro")
        _write_avro(
            spark,
            path,
            entry_schema if spec_id == 0 else _MANIFEST_ENTRY_SCHEMA,
            rows,
            {
                "schema": json.dumps(schema),
                "schema-id": "0",
                "partition-spec": json.dumps(spec_json if spec_id == 0 else []),
                "partition-spec-id": str(spec_id),
                "format-version": "2",
                "content": "data" if content == 0 else "deletes",
            },
        )
        seqs = [f["seq"] for f in files] or [seq]
        return {
            "manifest_path": path,
            "manifest_length": os.path.getsize(path),
            "partition_spec_id": spec_id,
            "content": content,
            "sequence_number": max(seqs),
            "min_sequence_number": min(seqs),
            "added_snapshot_id": snapshot_id,
            "added_files_count": len(files),
            "existing_files_count": 0,
            "deleted_files_count": 0,
            "added_rows_count": sum(f["rows"] for f in files),
            "existing_rows_count": 0,
            "deleted_rows_count": 0,
        }

    manifests = [
        _manifest(
            "m0", 0, data_files, 0,
            [
                _entry(f, 0, f["partition"] if part_fields else None)
                for f in data_files
            ],
        )
    ]
    if del_files:
        # DELETE manifest (manifest-list content=1): one content=2
        # entry per equality delete file (with its equality_ids) and
        # one content=1 entry per position delete file, each with its
        # true sequence number. Equality deletes apply GLOBALLY only
        # when their delete file sits in an UNPARTITIONED spec (Iceberg
        # spec, "Scan Planning": a delete file in a partitioned spec
        # applies only to its own partition). The catalog's eq-deletes
        # are table-global, so on a partitioned export the delete
        # manifest is written under an ADDED unpartitioned spec
        # (spec-id 1) — writing it under spec 0 with null partition
        # values would scope every delete to the null partition and
        # external readers (Spark/Trino/PyIceberg) would silently
        # resurrect the deleted rows.
        manifests.append(
            _manifest(
                "m1", 1, del_files, 1 if part_fields else 0,
                [_entry(f, 2 if "ids" in f else 1, None) for f in del_files],
            )
        )
    list_path = os.path.join(meta_dir, f"snap-{snapshot_id}-1-{commit_uuid}.avro")
    _write_avro(
        spark,
        list_path,
        _MANIFEST_LIST_SCHEMA,
        manifests,
        {"format-version": "2", "snapshot-id": str(snapshot_id)},
    )
    return {
        "snapshot-id": snapshot_id,
        "sequence-number": seq,
        "manifest-list": list_path,
        "schema-id": 0,
    }


def _write_metadata(
    dest: str,
    schema: dict,
    last_col_id: int,
    part_fields: list[dict],
    snapshots: list[dict],
    properties: dict,
    *,
    delete_spec: bool,
) -> None:
    """Write ``dest/metadata/v1.metadata.json`` (the HadoopTables
    layout) over ``snapshots``, the last one current, plus
    ``version-hint.text``. ``delete_spec`` adds the unpartitioned spec 1
    that global equality deletes of a partitioned table ride."""
    spec_json = _spec_json(part_fields)
    head = snapshots[-1]
    metadata = {
        "format-version": 2,
        "table-uuid": str(uuid.uuid4()),
        "location": dest,
        "last-sequence-number": max(s["sequence-number"] for s in snapshots),
        "last-updated-ms": head["timestamp-ms"],
        "last-column-id": last_col_id,
        "current-schema-id": 0,
        "schemas": [schema],
        "default-spec-id": 0,
        "partition-specs": [{"spec-id": 0, "fields": spec_json}]
        + ([{"spec-id": 1, "fields": []}] if delete_spec else []),
        "last-partition-id": 999 + len(spec_json),
        "default-sort-order-id": 0,
        "sort-orders": [{"order-id": 0, "fields": []}],
        "properties": properties,
        "current-snapshot-id": head["snapshot-id"],
        "refs": {"main": {"snapshot-id": head["snapshot-id"], "type": "branch"}},
        "snapshots": snapshots,
        "snapshot-log": [
            {"snapshot-id": s["snapshot-id"], "timestamp-ms": s["timestamp-ms"]}
            for s in snapshots
        ],
        "metadata-log": [],
    }
    meta_dir = os.path.join(dest, "metadata")
    with open(os.path.join(meta_dir, "v1.metadata.json"), "w") as f:
        json.dump(metadata, f, indent=1)
    with open(os.path.join(meta_dir, "version-hint.text"), "w") as f:
        f.write("1")


def _part_fields(part_cols: list[str], schema: dict) -> list[dict]:
    """Identity partition fields (spec field ids 1000+) over the
    export schema's columns ``part_cols``."""
    by_name = {f["name"]: f for f in schema["fields"]}
    return [
        {
            "name": c,
            "ice_type": by_name[c]["type"],
            "source-id": by_name[c]["id"],
            "field-id": 1000 + i,
        }
        for i, c in enumerate(part_cols)
    ]


def _spec_json(part_fields: list[dict]) -> list[dict]:
    return [
        {
            "name": pf["name"],
            "transform": "identity",
            "source-id": pf["source-id"],
            "field-id": pf["field-id"],
        }
        for pf in part_fields
    ]


# ---------------------------------------------------------------------------
# Independent pure-Python Avro OCF decoder (reader side)
# ---------------------------------------------------------------------------


class _AvroDecoder:
    """Minimal Avro binary decoder for the subset manifests use
    (records, unions, arrays, maps, primitives, fixed). Independent of
    the Java writer — the cross-implementation half of the round-trip
    tests."""

    def __init__(self, buf: bytes) -> None:
        self.buf = buf
        self.pos = 0

    def read(self, n: int) -> bytes:
        b = self.buf[self.pos : self.pos + n]
        self.pos += n
        return b

    def zigzag(self) -> int:
        shift = 0
        acc = 0
        while True:
            b = self.buf[self.pos]
            self.pos += 1
            acc |= (b & 0x7F) << shift
            if not b & 0x80:
                break
            shift += 7
        return (acc >> 1) ^ -(acc & 1)

    def decode(self, schema):
        if isinstance(schema, str):
            t = schema
        elif isinstance(schema, list):  # union: branch index, then value
            return self.decode(schema[self.zigzag()])
        else:
            t = schema["type"]
        if t == "null":
            return None
        if t == "boolean":
            return self.read(1) != b"\x00"
        if t in ("int", "long"):
            return self.zigzag()
        if t == "float":
            return struct.unpack("<f", self.read(4))[0]
        if t == "double":
            return struct.unpack("<d", self.read(8))[0]
        if t == "bytes":
            return self.read(self.zigzag())
        if t == "string":
            return self.read(self.zigzag()).decode("utf-8")
        if t == "fixed":
            return self.read(schema["size"])
        if t == "enum":
            return schema["symbols"][self.zigzag()]
        if t == "record":
            return {
                f["name"]: self.decode(f["type"]) for f in schema["fields"]
            }
        if t == "array":
            out = []
            while True:
                n = self.zigzag()
                if n == 0:
                    return out
                if n < 0:
                    n = -n
                    self.zigzag()  # block byte size: unused
                for _ in range(n):
                    out.append(self.decode(schema["items"]))
        if t == "map":
            out = {}
            while True:
                n = self.zigzag()
                if n == 0:
                    return out
                if n < 0:
                    n = -n
                    self.zigzag()
                for _ in range(n):
                    k = self.read(self.zigzag()).decode("utf-8")
                    out[k] = self.decode(schema["values"])
        raise ValueError(f"unsupported Avro type {t!r}")


def _read_avro_file(path: str) -> tuple[dict, list]:
    """(header metadata, records) of an Avro Object Container File —
    null and deflate codecs."""
    with open(path, "rb") as f:
        raw = f.read()
    if raw[:4] != b"Obj\x01":
        raise ValueError(f"{path}: not an Avro object container file")
    d = _AvroDecoder(raw)
    d.pos = 4
    meta: dict[str, bytes] = {}
    while True:
        n = d.zigzag()
        if n == 0:
            break
        if n < 0:
            n = -n
            d.zigzag()
        for _ in range(n):
            k = d.read(d.zigzag()).decode("utf-8")
            meta[k] = bytes(d.read(d.zigzag()))
    sync = d.read(16)
    schema = json.loads(meta["avro.schema"].decode("utf-8"))
    codec = meta.get("avro.codec", b"null").decode("utf-8")
    records = []
    while d.pos < len(raw):
        count = d.zigzag()
        size = d.zigzag()
        block = bytes(d.read(size))
        if d.read(16) != sync:
            raise ValueError(f"{path}: bad sync marker")
        if codec == "deflate":
            block = zlib.decompress(block, -15)
        elif codec != "null":
            raise ValueError(f"{path}: unsupported codec {codec!r}")
        bd = _AvroDecoder(block)
        for _ in range(count):
            records.append(bd.decode(schema))
    header_meta = {
        k: v.decode("utf-8", "replace")
        for k, v in meta.items()
        if k != "avro.schema"
    }
    return header_meta, records


# ---------------------------------------------------------------------------
# Read
# ---------------------------------------------------------------------------


def read_iceberg(
    spark: SparkSession, location: str, *, snapshot_id: int | None = None
) -> DataFrame:
    """Read an Iceberg v2 table directory into a DataFrame by walking
    the public spec: resolve the current metadata file
    (``version-hint.text``, else the newest ``*.metadata.json``),
    follow the current (or requested) snapshot's manifest list to its
    manifests, and scan the live data files.

    Pure-Python metadata walk (no Iceberg runtime jar needed) + Spark's
    parquet scan for the data. Supports the full v2 merge-on-read
    surface: POSITIONAL delete files (``file_path``, ``pos``) anti-join
    the scan on Spark's ``_metadata.file_path``/``row_index``, and
    EQUALITY delete files (the Flink-CDC write shape) anti-join
    null-safe on their ``equality_ids`` columns, honoring the spec's
    ordering rule — a delete applies only to data files with strictly
    lower sequence numbers, so rows written after it survive. Both are
    broadcast plans, the same shape as the engine's own MOR reads.
    Equality deletes without recorded ids refuse rather than guess."""
    location = os.path.abspath(location)
    meta_dir = os.path.join(location, "metadata")
    hint = os.path.join(meta_dir, "version-hint.text")
    if os.path.exists(hint):
        with open(hint) as f:
            v = f.read().strip()
        meta_file = os.path.join(meta_dir, f"v{v}.metadata.json")
    else:
        # numeric-aware: HadoopTables "v<N>.metadata.json" must compare
        # by N (lexicographic puts v10 before v2); catalog-style
        # "00007-<uuid>.metadata.json" names are zero-padded so the
        # same key works for both
        def _ver(f: str) -> tuple:
            m = re.match(r"^v(\d+)\.metadata\.json$", f)
            return (int(m.group(1)), "") if m else (-1, f)

        cands = sorted(
            (f for f in os.listdir(meta_dir) if f.endswith(".metadata.json")),
            key=_ver,
        )
        if not cands:
            raise ValueError(f"{location}: no Iceberg metadata files")
        meta_file = os.path.join(meta_dir, cands[-1])
    with open(meta_file) as f:
        meta = json.load(f)
    snap_id = snapshot_id if snapshot_id is not None else meta.get(
        "current-snapshot-id"
    )
    snap = next(
        (s for s in meta.get("snapshots", []) if s["snapshot-id"] == snap_id),
        None,
    )
    if snap is None:
        raise ValueError(f"{location}: snapshot {snap_id} not found")
    _, manifests = _read_avro_file(_local_path(snap["manifest-list"]))
    data_paths: list[tuple[str, dict]] = []
    data_keys: dict[str, tuple[str, int]] = {}  # path -> (file_path, seq)
    delete_paths: list[str] = []
    eq_deletes: list[tuple[str, list[int], int]] = []  # (path, ids, seq)
    for m in manifests:
        _, mentries = _read_avro_file(_local_path(m["manifest_path"]))
        for e in mentries:
            if e["status"] == 2:  # DELETED
                continue
            df_rec = e["data_file"]
            content = df_rec.get("content") or 0
            if df_rec["file_format"].upper() != "PARQUET":
                raise ValueError(
                    f"{location}: unsupported file format "
                    f"{df_rec['file_format']!r}"
                )
            seq = e.get("sequence_number")
            if seq is None:  # inherited from the manifest (spec rule)
                seq = m.get("sequence_number") or 0
            if content == 0:
                p = _local_path(df_rec["file_path"])
                data_paths.append((p, df_rec.get("partition") or {}))
                data_keys[p] = (df_rec["file_path"], seq)
            elif content == 1:  # position deletes
                delete_paths.append(_local_path(df_rec["file_path"]))
            else:  # equality deletes
                ids = df_rec.get("equality_ids")
                if not ids:
                    raise ValueError(
                        f"{location}: equality delete file without "
                        "equality_ids is not supported"
                    )
                eq_deletes.append(
                    (_local_path(df_rec["file_path"]), list(ids), seq)
                )
    if not data_paths:
        raise ValueError(f"{location}: snapshot {snap_id} has no data files")
    has_deletes = bool(delete_paths or eq_deletes)
    df = _scan_with_partitions(
        spark, location, meta, data_paths, lineage=has_deletes
    )
    if not has_deletes:
        return df
    out_cols = [c for c in df.columns if c not in ("_fp", "_pos")]
    # one broadcast map keys each row by its data file: the scan's _fp
    # is Spark's file URI; the map gives the manifest file_path (what
    # position deletes name, per the spec) and the sequence number. A
    # row matching no file fails loudly — a silent miss would skip its
    # deletes.
    keys = spark.createDataFrame(
        [(_spark_uri(p), fp, seq) for p, (fp, seq) in data_keys.items()],
        "_key_fp string, _file_path string, _data_seq bigint",
    )
    miss = F.raise_error(
        F.concat(
            F.lit(f"{location}: data file matches no manifest entry: "),
            F.col("_fp"),
        )
    ).cast("bigint")
    df = df.join(F.broadcast(keys), df["_fp"] == keys["_key_fp"], "left")
    df = df.withColumn("_data_seq", F.coalesce("_data_seq", miss))
    if delete_paths:
        positions = spark.read.parquet(*delete_paths).select(
            F.col("file_path").alias("_del_fp"),
            F.col("pos").cast("bigint").alias("_del_pos"),
        )
        df = df.join(
            F.broadcast(positions),
            (F.col("_file_path") == F.col("_del_fp"))
            & (F.col("_pos") == F.col("_del_pos")),
            "left_anti",
        )
    if eq_deletes:
        # equality deletes apply to rows whose data file's sequence
        # number is STRICTLY LESS than the delete's (the spec's
        # ordering rule — a row written after the delete survives);
        # each delete file anti-joins null-safe on its equality columns.
        id_to_name = {
            f["id"]: f["name"]
            for f in next(
                s
                for s in meta["schemas"]
                if s["schema-id"] == meta.get("current-schema-id", 0)
            )["fields"]
        }
        for path, ids, dseq in eq_deletes:
            try:
                cols = [id_to_name[i] for i in ids]
            except KeyError as e:
                raise ValueError(
                    f"{location}: equality_ids {ids} reference unknown "
                    f"field {e}"
                ) from None
            dels = (
                spark.read.parquet(path)
                .select(*[F.col(c).alias(f"_eq_{c}") for c in cols])
                .distinct()
            )
            cond = F.lit(True)
            for c in cols:
                cond = cond & F.col(c).eqNullSafe(F.col(f"_eq_{c}"))
            df = df.join(
                F.broadcast(dels),
                cond & (F.col("_data_seq") < F.lit(dseq)),
                "left_anti",
            )
    return df.select(*out_cols)


#: Iceberg primitive -> Spark SQL type for partition-value casts
_ICE_TO_SPARK = {
    "int": "int",
    "long": "bigint",
    "string": "string",
    "double": "double",
    "float": "float",
    "boolean": "boolean",
    "date": "date",
}


def _scan_with_partitions(
    spark: SparkSession,
    location: str,
    meta: dict,
    data_paths: list[tuple[str, dict]],
    *,
    lineage: bool = False,
) -> DataFrame:
    """Scan data files, restoring IDENTITY partition columns from the
    manifest partition structs when the files don't physically carry
    them (the spec's reading rule for identity transforms). Files that
    do carry every column scan directly; a mix of carrying and
    non-carrying files refuses rather than guessing.

    ``lineage=True`` attaches ``_fp`` (Spark's file URI) and
    ``_pos`` (row index) from ``_metadata`` INSIDE each underlying
    parquet scan — the delete-application path needs them, and
    ``_metadata`` only resolves directly on a file-source relation,
    not above the partition-restoring union."""
    import pyarrow.parquet as pq

    def _read(*ps: str) -> DataFrame:
        d = spark.read.parquet(*ps)
        if lineage:
            d = d.withColumn("_fp", F.col("_metadata.file_path")).withColumn(
                "_pos", F.col("_metadata.row_index")
            )
        return d

    paths = [p for p, _ in data_paths]
    spec_id = meta.get("default-spec-id", 0)
    specs = {s["spec-id"]: s for s in meta.get("partition-specs", [])}
    fields = (specs.get(spec_id) or {}).get("fields") or []
    identity = [f for f in fields if f.get("transform") == "identity"]
    if not identity:
        return _read(*paths)

    schema_fields = {
        f["id"]: f
        for f in next(
            s
            for s in meta["schemas"]
            if s["schema-id"] == meta.get("current-schema-id", 0)
        )["fields"]
    }
    id_cols = []
    for f in identity:
        sf = schema_fields.get(f["source-id"])
        if sf is None or not isinstance(sf["type"], str):
            raise ValueError(
                f"{location}: identity partition source {f['source-id']} "
                "not resolvable"
            )
        stype = _ICE_TO_SPARK.get(sf["type"]) or (
            sf["type"] if sf["type"].startswith("decimal") else None
        )
        if stype is None:
            raise ValueError(
                f"{location}: unsupported identity partition type "
                f"{sf['type']!r}"
            )
        id_cols.append((f["name"], sf["name"], stype))

    physical = set(pq.read_schema(paths[0]).names)
    carried = [c for _, c, _ in id_cols if c in physical]
    if len(carried) == len(id_cols):
        return _read(*paths)  # files carry the columns
    if carried:
        raise ValueError(
            f"{location}: some identity partition columns are in the "
            f"files and some are not ({carried} vs "
            f"{[c for _, c, _ in id_cols]}); refusing mixed layout"
        )

    groups: dict[tuple, list[str]] = {}
    for p, pvals in data_paths:
        key = tuple(pvals.get(pname) for pname, _, _ in id_cols)
        groups.setdefault(key, []).append(p)
    out: DataFrame | None = None
    for key, gpaths in sorted(
        groups.items(), key=lambda kv: tuple(str(k) for k in kv[0])
    ):
        g = _read(*gpaths)
        for (pname, cname, stype), v in zip(id_cols, key):
            g = g.withColumn(
                cname,
                (F.lit(None) if v is None else F.lit(v)).cast(stype),
            )
        out = g if out is None else out.unionByName(g)
    return out
