"""``dashboard_serve``: the read path of the BI dashboard.

Set-up loads the seeded events through ``MedallionPipeline`` (bronze →
silver → gold marts) and starts a read-only ``SqlEndpoint``.  One op is
one chart request: one DB-API connection runs the 7 reference charts
(``serving.compile_chart``) in a seeded order, closed loop.  The marts
are tiny, so per-query fixed cost dominates: routing, view
registration, manifest reads, Catalyst, job launch and JSON.
"""

from __future__ import annotations

import datetime as dt
import decimal
import math
import os
import time

from common import dir_bytes, parquet_bytes, written_since
from inputs import chart_order, write_events

#: charts on the dashboard
N_CHARTS = 7
#: chart requests per second a 4-vCPU host serves after warm-up: a
#: window of ``--seconds`` holds the whole blocks of charts this rate
#: gives, the same number however fast the host runs
NOMINAL_CHARTS_PER_S = 4
#: warm-up requests after the marts are built (three rounds of charts):
#: the first rounds of a fresh JVM run up to twice as slow as later ones
WARMUP = 3 * N_CHARTS


#: the marts the reference charts read
SERVED_MARTS = [
    "gold_daily_sales_summary", "gold_conversion_funnel_daily",
    "gold_product_performance", "gold_user_rfm_segments",
    "gold_hourly_traffic", "gold_category_performance",
]

def make_inputs(seed: int, work: str, seconds: float) -> dict:
    path = os.path.join(work, "events.parquet")
    return {"events": path, "n_events": write_events(path, seed), "seed": seed}


def _norm(v):
    """One comparable form for a value from the endpoint's JSON or
    from DuckDB."""
    if isinstance(v, (dt.datetime, dt.date)):
        return v.isoformat()
    if isinstance(v, decimal.Decimal):
        return float(v)
    if isinstance(v, float) and not math.isfinite(v):
        return None
    return v


def _same_rows(got, want) -> bool:
    if len(got) != len(want):
        return False
    for g, w in zip(got, want):
        if len(g) != len(w):
            return False
        for a, b in zip(g, w):
            a, b = _norm(a), _norm(b)
            if isinstance(a, float) or isinstance(b, float):
                if a is None or b is None or not math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-9):
                    return False
            elif a != b:
                return False
    return True


class Workload:
    #: traced ops whose counts must repeat exactly for one seed: two
    #: rounds of the seeded chart order
    exact_traced_ops = 2 * N_CHARTS

    def __init__(self, spark, inputs: dict, work: str, tracer=None) -> None:
        from data_lakehouse_spark import serving
        from data_lakehouse_spark.catalog import Catalog

        self.spark = spark
        self.inputs = inputs
        self.tracer = tracer
        self.catalog = Catalog(spark, os.path.join(work, "catalog"))
        assets = serving.reference_assets()
        self.charts = [
            (c.name, serving.compile_chart(c, assets.dataset(c.dataset_key)))
            for c in assets.charts
        ]
        self.order = chart_order(inputs["seed"], len(self.charts))
        self.results: list[tuple[int, list]] = []
        self.failures: list[str] = []
        self.endpoint = self.conn = None
        self.exact: dict = {}

    @staticmethod
    def wrap(tracer) -> None:
        from pyspark.sql.classic.dataframe import DataFrame

        from data_lakehouse_spark import client, pipeline, server, sql
        from data_lakehouse_spark.catalog import Catalog
        from data_lakehouse_spark.operators import gold

        tracer.wrap(client.Cursor, "execute", "client.wire")
        tracer.wrap(client.Cursor, "fetchall", "client.wire")
        tracer.wrap(server.SqlEndpoint, "execute", "server.execute_self")
        tracer.wrap(sql.LakehouseSql, "execute", "sql.execute")
        for attr in ("register_views", "read", "create_table", "overwrite", "append"):
            tracer.wrap(Catalog, attr, f"catalog.{attr}")
        tracer.wrap(DataFrame, "collect", "spark.collect")
        for attr in ("ingest_bronze", "build_silver", "build_gold"):
            tracer.wrap(pipeline.MedallionPipeline, attr, f"pipeline.{attr}")
        tracer.wrap(pipeline, "silver_events", "operators.silver_build", count_jobs=True)
        for fn in ("daily_sales_summary", "product_performance", "category_performance",
                   "user_rfm_segments", "conversion_funnel_daily", "hourly_traffic"):
            tracer.wrap(gold, fn, "operators.gold_build", count_jobs=True)

    # -- set-up ---------------------------------------------------------------
    def setup(self) -> None:
        from data_lakehouse_spark import client
        from data_lakehouse_spark.pipeline import MedallionPipeline
        from data_lakehouse_spark.server import SqlEndpoint

        pipe = MedallionPipeline(
            self.spark, self.catalog, cart_type="click", as_of_date="2024-02-01"
        )
        raw = self.spark.read.parquet(self.inputs["events"])
        pipe.ingest_bronze(raw, "events.parquet")
        pipe.build_silver()
        pipe.build_gold(only=SERVED_MARTS)
        if self.tracer is not None:
            w, _ = written_since(self.catalog.root, {})
            # the load is the op that writes: one bronze → silver → gold load
            self.exact = {"catalog.rows_written_per_op": w["rows"],
                          "catalog.bytes_written_per_op": w["bytes"],
                          "catalog.manifest_bytes_per_op": w["manifest_bytes"]}
        self.endpoint = SqlEndpoint(self.catalog, read_only=True).start()
        self.conn = client.connect(port=self.endpoint.port, on_truncate="error")
        for _ in range(WARMUP):
            self.run_op(record=False)

    # -- one op ------------------------------------------------------------------
    @staticmethod
    def window_ops(seconds: float) -> int:
        """Whole blocks of the seeded chart order, so every window
        requests each chart equally often."""
        return N_CHARTS * max(1, round(seconds * NOMINAL_CHARTS_PER_S / N_CHARTS))

    def prepare(self):
        return next(self.order)

    def run_op(self, prepared=None, record=True) -> tuple[float, int, bool]:
        """Run one chart request; returns (seconds, charts, ok)."""
        i = self.prepare() if prepared is None else prepared
        t0 = time.perf_counter()
        cur = self.conn.cursor()
        cur.execute(self.charts[i][1])
        rows = cur.fetchall()
        dt_s = time.perf_counter() - t0
        if record:
            self.results.append((i, rows))
        return dt_s, 1, True

    # -- after the window ---------------------------------------------------------
    def finish(self) -> dict:
        """Check every chart response against DuckDB over the same mart
        rows; measure the marts' space: bytes on disk over the bytes of
        their rows as one parquet file each."""
        import duckdb
        from pyspark.sql import functions as F

        self.conn.close()
        self.endpoint.stop()
        # sorted, so the parquet reference size does not depend on the
        # order the mart's files are read in
        frames = {}
        for t in SERVED_MARTS:
            df = self.catalog.read(t)
            frames[t] = df.orderBy(*df.columns).toPandas()
        con = duckdb.connect()
        try:
            for t, df in frames.items():
                con.register(t, df)
            expected = [con.execute(sql).fetchall() for _, sql in self.charts]
        finally:
            con.close()
        failed_ops = 0
        for n, (i, rows) in enumerate(self.results):
            if not _same_rows(rows, expected[i]):
                failed_ops += 1
                if len(self.failures) < 5:
                    self.failures.append(f"request {n}: chart {self.charts[i][0]!r} differs from DuckDB")
        rows, keys = self.catalog.read("silver_events").agg(
            F.count(F.lit(1)), F.count_distinct("event_unique_id")
        ).collect()[0]
        if rows != keys:
            failed_ops += 1
            self.failures.append(f"silver_events: {rows - keys} duplicate event_unique_id")
        on_disk = sum(dir_bytes(os.path.join(self.catalog.root, t)) for t in SERVED_MARTS)
        fresh = sum(parquet_bytes(df) for df in frames.values())
        return {"bytes_per_live_byte": on_disk / fresh, "failed_ops": failed_ops}
