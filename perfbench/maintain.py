"""``table_maintain``: writes beside reads on one rolling-window table.

The table holds a rolling window of days.  A cycle appends the next
day, CDC-upserts a seeded share of the live keys, merge-on-read deletes
the oldest day (a positional delete file; no data is rewritten), runs
two filtered scans, and ends with one ``Catalog.maintain`` sweep
(compact, fold deletes, expire all but the last snapshots).  The live
size stays constant and every sweep compacts, so cycles stay
comparable.  One op is one of these catalog
operations, so a short window still holds enough ops for a median and
a tail.  Manifests are fsynced on every commit (the catalog's only
flush policy).
"""

from __future__ import annotations

import contextlib
import json
import math
import os
import time

import pandas as pd

from common import dir_bytes, fresh_table_bytes, parquet_bytes, written_since
from inputs import MaintainPlan

TABLE = "events"
#: the steps of one cycle; the sweep ends every cycle
STEPS = ("append", "upsert", "delete", "scan_users", "scan_day", "sweep")
#: cycles run in set-up, as warm-up: with one, ten runs' op_p50_ms
#: spread 0.16 of their median, with two 0.07
WARMUP_CYCLES = 2
#: space is measured right after this cycle: the first timed one
SPACE_CYCLE = WARMUP_CYCLES
#: seconds one cycle takes on a 4-vCPU host after warm-up: a window of
#: ``--seconds`` holds the whole cycles this gives, the same number
#: however fast the host runs
NOMINAL_CYCLE_S = 5
#: a traced run counts files, rows and bytes over this many timed
#: cycles, so bytes written per user byte is seen over several sweeps;
#: every window holds at least these cycles
EXACT_CYCLES = 3
#: thresholds low enough that every sweep compacts: a cycle adds two
#: data files (append, upsert images) and two delete files (upsert
#: keys, the day delete), so every cycle starts from one compacted file
SWEEP = {"min_files_to_compact": 3, "max_delete_files": 1, "expire_keep_last": 2}
_SCHEMA = "event_id bigint, user_id bigint, event_type string, value double, event_date date"


def _frame(rows, with_op=False) -> pd.DataFrame:
    cols = list(MaintainPlan.COLUMNS) + (["_op"] if with_op else [])
    return pd.DataFrame(rows, columns=cols)


def timed_cycles(seconds: float) -> int:
    return max(EXACT_CYCLES, round(seconds / NOMINAL_CYCLE_S))


def make_inputs(seed: int, work: str, seconds: float) -> dict:
    plan = MaintainPlan(seed)
    initial = _frame(plan.initial())
    cycles, expected = [], []
    for c in range(WARMUP_CYCLES + timed_cycles(seconds)):
        cy = plan.cycle(c)
        cy["append_df"] = _frame(cy.pop("append"))
        cy["upsert_df"] = _frame(cy.pop("upserts"), with_op=True)
        cy["append_ref_bytes"] = parquet_bytes(cy["append_df"])
        cy["upsert_ref_bytes"] = parquet_bytes(cy["upsert_df"])
        cycles.append(cy)
        expected.append(dict(plan.model))
    return {"initial": initial, "cycles": cycles, "expected": expected}


class Workload:
    #: traced ops whose counts must repeat exactly for one seed
    exact_traced_ops = EXACT_CYCLES * len(STEPS)

    def __init__(self, spark, inputs: dict, work: str, tracer=None) -> None:
        from data_lakehouse_spark.catalog import Catalog

        self.spark = spark
        self.inputs = inputs
        self.tracer = tracer
        self.catalog = Catalog(spark, os.path.join(work, "catalog"))
        self.table_dir = os.path.join(self.catalog.root, TABLE)
        #: position of the next op
        self.cycle = 0
        self.step = 0
        self.failures: list[str] = []
        #: traced runs: per timed cycle, bytes and rows of new files and
        #: the user's bytes; files seen so far
        self._seen: dict[str, int] = {}
        self.written: dict[int, dict] = {}
        self.exact: dict = {}
        self.space_bytes = 0

    @staticmethod
    def wrap(tracer) -> None:
        from pyspark.sql.classic.dataframe import DataFrame

        from data_lakehouse_spark.catalog import Catalog

        for attr in ("create_table", "append", "upsert_cdc", "delete_where",
                     "maintain", "read"):
            tracer.wrap(Catalog, attr, f"catalog.{attr}")
        tracer.wrap(DataFrame, "collect", "spark.collect")

    # -- set-up ---------------------------------------------------------------
    def setup(self) -> None:
        df = self.spark.createDataFrame(self.inputs["initial"], _SCHEMA)
        self.catalog.create_table(TABLE, df)
        _, self._seen = written_since(self.table_dir, {})
        while self.cycle < WARMUP_CYCLES:
            self.run_op()

    # -- one op ----------------------------------------------------------------
    @staticmethod
    def window_ops(seconds: float) -> int:
        """Whole cycles, so every window commits whole cycles' user rows
        and holds each op kind in proportion."""
        return timed_cycles(seconds) * len(STEPS)

    def prepare(self):
        """The next step and its input DataFrame, built outside the
        op's clock; moves to the step after it even if building fails.
        Each batch arrives as one partition, as a micro-batch would."""
        c, step = self.cycle, STEPS[self.step]
        self.step = (self.step + 1) % len(STEPS)
        self.cycle += self.step == 0
        cy = self.inputs["cycles"][c]
        df = None
        if step == "append":
            df = self.spark.createDataFrame(cy["append_df"], _SCHEMA).coalesce(1)
        elif step == "upsert":
            df = self.spark.createDataFrame(
                cy["upsert_df"], _SCHEMA + ", _op string"
            ).coalesce(1)
        return c, cy, step, df

    def run_op(self, prepared=None) -> tuple[float, int, bool]:
        """Run one step; returns (seconds, user rows committed, ok)."""
        from pyspark.sql import functions as F

        c, cy, step, df = prepared or self.prepare()
        cat = self.catalog
        rows, got, want = 0, None, None
        t0 = time.perf_counter()
        if step == "append":
            cat.append(TABLE, df)
            rows = len(cy["append_df"])
        elif step == "upsert":
            cat.upsert_cdc(TABLE, df, ["event_id"])
            rows = len(cy["upsert_df"])
        elif step == "delete":
            cat.delete_where(TABLE, f"event_date = DATE'{cy['delete_day']}'", mode="mor")
        elif step == "scan_users":
            lo, hi = cy["scan_users"]
            with self._span("catalog.scan"):
                got = tuple(
                    cat.read(TABLE)
                    .filter((F.col("user_id") >= lo) & (F.col("user_id") < hi))
                    .agg(F.count(F.lit(1)), F.sum("value"))
                    .collect()[0]
                )
            want = cy["expect_users"]
        elif step == "scan_day":
            day, etype = cy["scan_day_type"]
            with self._span("catalog.scan"):
                got = (
                    cat.read(TABLE)
                    .filter((F.col("event_date") == F.lit(day))
                            & (F.col("event_type") == etype))
                    .count()
                )
            want = cy["expect_day_type"]
        else:
            cat.maintain(TABLE, **SWEEP)
        dt = time.perf_counter() - t0

        ok = want is None or _matches(got, want)
        if not ok:
            self.failures.append(f"cycle {c} {step}: {got} != {want}")
        if self.tracer is not None:
            self._count_written(c, cy, step)
        if step == "sweep" and c == SPACE_CYCLE:
            self.space_bytes = dir_bytes(self.table_dir)
            if self.tracer is not None:
                self.exact.update(self._layout())
        return dt, rows, ok

    def _span(self, name: str):
        return self.tracer.span(name) if self.tracer else contextlib.nullcontext()

    def _count_written(self, c: int, cy: dict, step: str) -> None:
        """Bytes and rows of the files an op created or rewrote, summed
        per cycle; after the last exact cycle, the write counts."""
        new, self._seen = written_since(self.table_dir, self._seen)
        w = self.written.setdefault(
            c, {"bytes": 0, "manifest_bytes": 0, "rows": 0, "user_bytes": 0, "sweep": 0}
        )
        for k, v in new.items():
            w[k] += v
        if step in ("append", "upsert"):
            w["user_bytes"] += cy[f"{step}_ref_bytes"]
        if step == "sweep":
            w["sweep"] = new["bytes"]
        if step == "sweep" and c == WARMUP_CYCLES + EXACT_CYCLES - 1:
            ws = [self.written[k] for k in range(WARMUP_CYCLES, c + 1)]
            ops = len(ws) * len(STEPS)

            def total(key):
                return sum(x[key] for x in ws)

            self.exact.update({
                "catalog.bytes_written_per_user_byte": total("bytes") / total("user_bytes"),
                "catalog.bytes_rewritten_per_sweep": total("sweep") / len(ws),
                "catalog.bytes_written_per_op": total("bytes") / ops,
                "catalog.manifest_bytes_per_op": total("manifest_bytes") / ops,
                "catalog.rows_written_per_op": total("rows") / ops,
            })

    def _layout(self) -> dict:
        with open(os.path.join(self.table_dir, "_manifest.json")) as f:
            head = [e for e in json.load(f) if "branch" not in e][-1]
        files = sum(
            1
            for d in head["data_dirs"]
            for _, _, fs in os.walk(os.path.join(self.table_dir, d))
            for f in fs
            if f.endswith(".parquet")
        )
        return {
            "catalog.files_live": files,
            "catalog.delete_files_live": len(head.get("delete_dirs") or []),
        }

    # -- after the window ---------------------------------------------------------
    def finish(self) -> dict:
        """Check the table against the model and measure space: the
        table's bytes on disk after ``SPACE_CYCLE`` over the bytes of the
        model's rows at that cycle written once as a fresh table, a
        count that depends on the seed only."""
        got = sorted(tuple(r) for r in self.catalog.read(TABLE).collect())
        want = sorted(self.inputs["expected"][self.cycle - 1].values())
        failed = 0
        if got != want:
            failed = 1
            self.failures.append(
                f"final table: {len(got)} rows differ from the model's {len(want)}"
            )
        live = self.spark.createDataFrame(
            _frame(sorted(self.inputs["expected"][SPACE_CYCLE].values())), _SCHEMA
        )
        fresh = fresh_table_bytes(self.catalog, "fresh_copy", live)
        # traced runs: data bytes written per user byte and manifest
        # bytes, cycle by cycle, to show which of them levels off
        by_cycle = [
            (round(w["bytes"] / w["user_bytes"], 3), w["manifest_bytes"])
            for c, w in sorted(self.written.items()) if c >= WARMUP_CYCLES
        ]
        return {"bytes_per_live_byte": self.space_bytes / fresh, "cycles": self.cycle,
                "bytes_written_per_user_byte_and_manifest_bytes_by_cycle": by_cycle,
                "failed_ops": failed}


def _matches(got, want) -> bool:
    if isinstance(want, tuple):
        return got[0] == want[0] and math.isclose(
            got[1] or 0.0, want[1], rel_tol=1e-9, abs_tol=1e-6
        )
    return got == want
