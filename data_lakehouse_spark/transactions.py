"""Atomic multi-table transactions over the catalog.

The reference pipeline publishes bronze → silver → gold as SEPARATE
Iceberg commits (spark/jobs/*.py each end in their own write), so a
reader between two DAG tasks can see a fresh silver joined against a
stale gold. This module closes that gap with the lakehouse-native
recipe (the one Iceberg's REST catalog exposes as multi-table commits):

1. **Stage** every write as a WAP snapshot (``staged=True`` commits —
   invisible to default reads, and they BLOCK concurrent unstaged
   writes on the same table until resolved).
2. **Decide** by writing one intent file (``_txn/<id>.json``) listing
   every (table, staged_version) pair — a single atomic ``os.replace``
   is the commit point for the whole transaction.
3. **Flip** each table's manifest to publish its staged snapshot
   (zero data movement — identical to :meth:`Catalog.publish`).
4. Remove the intent file.

Crash anywhere before (2) → nothing published; the staged snapshots
are garbage-collectable and :meth:`Transaction.abort` (or
``rollback``) clears them. Crash anywhere after (2) →
:func:`recover_transactions` rolls FORWARD: publishing is pure
metadata, so completion is always possible. Readers between (2) and
(4) may see a torn snapshot across tables (old B with new A) until
recovery completes — the same read-committed-per-table guarantee every
file-listing lakehouse gives; the atomicity contract here is
crash-durability of all-or-nothing, not cross-table read isolation.

Concurrent writers: normal unstaged writes on a touched table are
refused by the WAP guard until the transaction resolves, and a second
transaction (or external WAP writer) staging on the same table is
refused by :meth:`Transaction._check_stageable` — staged snapshots
stack, so interleaved staging would let one writer publish or bury the
other's data. (The check-then-stage pair is not atomic; on a shared
filesystem with truly simultaneous stagers this narrows, not closes,
the window — the same ``wap.id`` single-coordinator assumption Iceberg
makes.)

Scale note: everything here is manifest metadata — O(tables) small
JSON writes regardless of data volume. The data files were already
written (distributed) at stage time.
"""

from __future__ import annotations

import json
import os
import time
import uuid

from pyspark.sql import DataFrame

from data_lakehouse_spark.catalog import _write_json

__all__ = ["Transaction", "recover_transactions"]


def _txn_dir(catalog) -> str:
    return os.path.join(catalog.root, "_txn")


def _roll_forward(catalog, table: str, staged_version: int, txn_id: str) -> None:
    """Publish ``table``'s staged snapshot at ``staged_version`` unless
    an unstaged main-lineage entry already landed after it (the flip —
    or a competing write — already happened). The publish entry is
    shape-identical to Catalog.publish, plus the transaction id for
    audit."""

    def change(entries):
        if staged_version >= len(entries):
            raise ValueError(
                f"transaction {txn_id}: {table} has no version "
                f"{staged_version} (manifest truncated?)"
            )
        target = entries[staged_version]
        if not target.get("staged"):
            raise ValueError(
                f"transaction {txn_id}: {table} v{staged_version} is not "
                "a staged snapshot"
            )
        for e in entries[staged_version + 1:]:
            if "branch" not in e and not e.get("staged"):
                return None  # already published (this txn or superseded)
        return target, {"txn_id": txn_id}

    catalog._meta_commit(catalog._handle(table), "publish", change)


class Transaction:
    """Multi-table atomic write session. Use via
    ``with Catalog.transaction() as txn:`` — the block's writes publish
    all-or-nothing on exit; an exception aborts them all.

    Supported writes: :meth:`append` and :meth:`overwrite` (the two
    snapshot-producing ops the WAP staging path expresses). DML that
    rewrites existing files (delete/update/merge) commits directly and
    is out of transactional scope — same as Iceberg's WAP.
    """

    def __init__(self, catalog) -> None:
        self.catalog = catalog
        self.txn_id = uuid.uuid4().hex[:16]
        #: table -> (latest staged version, published version before txn)
        self._staged: dict[str, tuple[int, int | None]] = {}
        self._done = False

    # -- staged writes -----------------------------------------------------
    def _check_stageable(self, name: str) -> None:
        """Refuse to stage on top of ANOTHER writer's staged snapshot:
        staged appends stack on the staged head, so committing here
        would silently publish (or abort would silently bury) the other
        writer's data — the one anomaly the WAP guard on unstaged
        commits doesn't catch."""
        h = self.catalog._handle(name)
        entries = self.catalog._load_manifest(h)
        head = (
            self.catalog._branch_head(entries, None) if entries else None
        )
        if head is not None and head.get("staged"):
            mine = self._staged.get(name)
            if mine is None or head["version"] != mine[0]:
                raise ValueError(
                    f"{name} has a staged snapshot (v{head['version']}) "
                    f"from another writer — transaction {self.txn_id} "
                    "refuses to stack on it (publish or roll it back "
                    "first)"
                )

    def _record(self, name: str) -> None:
        h = self.catalog._handle(name)
        entries = self.catalog._load_manifest(h)
        staged_v = self.catalog._main_head(entries, name)["version"]
        if name not in self._staged:
            published = None
            for e in reversed(entries[:staged_v]):
                if "branch" not in e and not e.get("staged") and not e.get(
                    "expired"
                ):
                    published = e["version"]
                    break
            self._staged[name] = (staged_v, published)
        else:
            self._staged[name] = (staged_v, self._staged[name][1])

    def append(self, name: str, df: DataFrame, **kw) -> None:
        """Stage an append; visible to others only after commit."""
        self._check_stageable(name)
        self.catalog.append(name, df, staged=True, **kw)
        self._record(name)

    def overwrite(self, name: str, df: DataFrame) -> None:
        """Stage a full replace; visible only after commit."""
        self._check_stageable(name)
        self.catalog.overwrite(name, df, staged=True)
        self._record(name)

    # -- resolution --------------------------------------------------------
    def commit(self) -> dict:
        """Write the intent (the atomic decision point), then flip every
        table. Returns ``{table: published staged version}``."""
        if self._done:
            raise ValueError("transaction already resolved")
        self._done = True
        if not self._staged:
            return {}
        os.makedirs(_txn_dir(self.catalog), exist_ok=True)
        intent_path = os.path.join(
            _txn_dir(self.catalog), f"{self.txn_id}.json"
        )
        payload = {
            "txn_id": self.txn_id,
            "decided_at": time.strftime("%Y-%m-%d %H:%M:%S", time.gmtime()),
            "tables": {n: v for n, (v, _) in self._staged.items()},
        }
        # the transaction commits HERE. The write is power-loss durable
        # (file and _txn dir fsynced), like every manifest flip: a
        # flipped manifest surviving a crash while the decided intent
        # vanished would be torn cross-table state recovery can't see.
        _write_json(intent_path, payload)
        for name in sorted(self._staged):
            _roll_forward(
                self.catalog, name, self._staged[name][0], self.txn_id
            )
        os.unlink(intent_path)
        return {n: v for n, (v, _) in self._staged.items()}

    def abort(self) -> None:
        """Bury every staged snapshot by rolling each table back to its
        pre-transaction published version (append-only history — the
        staged attempt stays auditable via time travel)."""
        if self._done:
            raise ValueError("transaction already resolved")
        self._done = True
        for name, (_, published) in self._staged.items():
            if published is not None:
                self.catalog.rollback(name, published)
            # a table created inside the txn with only staged data keeps
            # its staged head; default reads already skip it

    def __enter__(self) -> "Transaction":
        recover_transactions(self.catalog)
        return self

    def __exit__(self, exc_type, exc, tb) -> bool:
        if self._done:
            return False
        if exc_type is None:
            self.commit()
        else:
            self.abort()
        return False


def recover_transactions(catalog) -> list[str]:
    """Roll forward every decided-but-unfinished transaction (intent
    file present). Idempotent and safe to run any time; returns the
    recovered transaction ids."""
    d = _txn_dir(catalog)
    if not os.path.isdir(d):
        return []
    recovered = []
    for fn in sorted(os.listdir(d)):
        if not fn.endswith(".json"):
            continue
        path = os.path.join(d, fn)
        try:
            with open(path) as f:
                intent = json.load(f)
        except (OSError, json.JSONDecodeError):
            continue  # torn tmp leftovers are not decisions
        for table, v in sorted(intent.get("tables", {}).items()):
            _roll_forward(catalog, table, int(v), intent["txn_id"])
        os.unlink(path)
        recovered.append(intent["txn_id"])
    return recovered
