"""Seeded inputs.  Everything here depends only on the seed, runs before
the benchmark starts its set-up clock, and starts no Spark session."""

from __future__ import annotations

import datetime as dt
import random

import pyarrow as pa
import pyarrow.parquet as pq

#: the row and user counts of the sf0.1 ``events.parquet`` test fixture
#: (100 000 events of 1 500 users over 30 days)
N_EVENTS = 100_000
N_USERS = 1500
#: share of events re-sent (same user, time and type; new event_id and
#: value), so the silver W1 dedup has work
RESEND_SHARE = 0.02
#: event types of the ``table_maintain`` rows
EVENT_TYPES = ("view", "click", "purchase", "remove_from_cart", "signup")
EPOCH = dt.datetime(2024, 1, 1)


def write_events(path: str, seed: int) -> int:
    """Raw clickstream events (``event_id, ts, user_id, event_type,
    value, props``) from the package's deterministic synthetic events
    generator, plus ``RESEND_SHARE`` re-sent events, written to one
    parquet file.  Returns the row count."""
    from data_lakehouse_spark.sources.synthetic import SyntheticEventsDataSource

    n_base = int(N_EVENTS * (1 - RESEND_SHARE))
    reader = SyntheticEventsDataSource({
        "seed": str(seed), "partitions": "1",
        "rows_per_partition": str(n_base), "users": str(N_USERS),
    }).reader(None)
    rows = [r for part in reader.partitions() for r in reader.read(part)]
    rng = random.Random(seed)
    next_id = max(r[0] for r in rows) + 1
    for j, i in enumerate(sorted(rng.sample(range(n_base), N_EVENTS - n_base))):
        eid, ts, user, etype, _, props = rows[i]
        rows.append((next_id + j, ts, user, etype, rng.randrange(50_000) / 100.0, props))
    cols = list(zip(*rows))
    table = pa.table({
        "event_id": pa.array(cols[0], pa.int64()),
        "ts": pa.array(cols[1], pa.timestamp("us")),
        "user_id": pa.array(cols[2], pa.int64()),
        "event_type": pa.array(cols[3], pa.string()),
        "value": pa.array(cols[4], pa.float64()),
        "props": pa.array(cols[5], pa.string()),
    })
    pq.write_table(table, path)
    return len(rows)


def chart_order(seed: int, n_charts: int):
    """Endless chart index sequence: consecutive blocks, each a seeded
    permutation of all charts, so every chart is requested equally
    often whatever the run length."""
    rng = random.Random(seed)
    while True:
        block = list(range(n_charts))
        rng.shuffle(block)
        yield from block


def _day(d: int) -> dt.date:
    return (EPOCH + dt.timedelta(days=d)).date()


class MaintainPlan:
    """The seeded op sequence of ``table_maintain`` and the in-memory
    model of the table it should leave behind.

    The table holds a rolling window of ``window_days`` days.  Cycle
    ``c`` appends day ``window_days + c``, upserts ``upsert_share`` of
    the live keys (a fifth of them as deletes), deletes the oldest day
    and runs two filtered scans whose expected results come from the
    model.  Rows are ``(event_id, user_id, event_type, value,
    event_date)``.
    """

    COLUMNS = ("event_id", "user_id", "event_type", "value", "event_date")
    window_days = 7
    rows_per_day = 2000
    users = 500
    upsert_share = 0.02

    def __init__(self, seed: int) -> None:
        self.rng = random.Random(seed)
        #: event_id → row; the expected table
        self.model: dict[int, tuple] = {}

    def day_rows(self, d: int) -> list[tuple]:
        rng, day = self.rng, _day(d)
        return [
            (d * 1_000_000 + i, rng.randrange(self.users),
             rng.choice(EVENT_TYPES), rng.randrange(100_000) / 100.0, day)
            for i in range(self.rows_per_day)
        ]

    def initial(self) -> list[tuple]:
        rows = [r for d in range(self.window_days) for r in self.day_rows(d)]
        self.model.update((r[0], r) for r in rows)
        return rows

    def cycle(self, c: int) -> dict:
        """Inputs of cycle ``c`` with the expected scan results; applies
        the cycle to the model."""
        rng = self.rng
        new_day = self.window_days + c
        appended = self.day_rows(new_day)
        self.model.update((r[0], r) for r in appended)

        live = sorted(self.model)
        keys = rng.sample(live, int(len(live) * self.upsert_share))
        upserts = []
        for k in keys:
            old = self.model[k]
            if rng.random() < 0.2:
                upserts.append((*old, "D"))
                del self.model[k]
            else:
                new = (old[0], old[1], old[2], rng.randrange(100_000) / 100.0, old[4])
                upserts.append((*new, "U"))
                self.model[k] = new

        oldest = _day(new_day - self.window_days)
        for k in [k for k, r in self.model.items() if r[4] == oldest]:
            del self.model[k]

        lo = rng.randrange(self.users - 50)
        scan_a = (lo, lo + 50)
        rows_a = [r for r in self.model.values() if lo <= r[1] < lo + 50]
        scan_day = _day(new_day - rng.randrange(self.window_days))
        scan_type = rng.choice(EVENT_TYPES)
        n_b = sum(
            1 for r in self.model.values() if r[4] == scan_day and r[2] == scan_type
        )
        return {
            "append": appended,
            "upserts": upserts,
            "delete_day": oldest,
            "scan_users": scan_a,
            "expect_users": (len(rows_a), sum(r[3] for r in rows_a)),
            "scan_day_type": (scan_day, scan_type),
            "expect_day_type": n_b,
            "user_rows": len(appended) + len(upserts),
        }
