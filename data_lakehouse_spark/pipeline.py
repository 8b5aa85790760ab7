"""Medallion pipeline runner: bronze → silver → gold materialization.

The engine-side equivalent of the reference's Airflow DAGs 02–04
(ingest → dbt silver → dbt gold) as a plain Python orchestration over
the catalog: each stage is a DataFrame function materialized into a
versioned table, with the reference's audit columns, incremental
watermark semantics, and post-build data-quality checks.

Scale notes: bronze/silver are partitioned by event_date so every
downstream mart scan partition-prunes; silver is built incrementally
(only rows past the bronze ingestion watermark are transformed); gold
marts rebuild full by default (they aggregate far fewer rows) or
incrementally by date when a watermark column is given.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_lakehouse_spark.catalog import Catalog, with_audit_columns
from data_lakehouse_spark.operators import gold as gold_ops
from data_lakehouse_spark.operators import quality
from data_lakehouse_spark.operators.silver import silver_events

__all__ = ["MedallionPipeline"]


class MedallionPipeline:
    """bronze.events → silver.events → gold.* over a Catalog root."""

    def __init__(
        self,
        spark: SparkSession,
        catalog: Catalog,
        *,
        cart_type: str = "cart",
        as_of_date: str | None = None,
    ) -> None:
        self.spark = spark
        self.catalog = catalog
        self.cart_type = cart_type
        self.as_of_date = as_of_date

    # -- bronze ------------------------------------------------------------
    def ingest_bronze(self, raw: DataFrame, source_file: str) -> dict:
        """S1/S6/P1: append raw events + audit columns into bronze.

        Incoming batches are schema-drift-gated against the existing
        bronze table: breaking drift (dropped/retyped columns) raises
        before any write; added columns are forward-compatible and flow
        through the catalog's zero-rewrite evolution."""
        df = with_audit_columns(raw, source_file)
        drift = None
        if self.catalog.table_exists("bronze_events"):
            drift = quality.schema_drift(self.catalog.read("bronze_events"), df)
            if not drift["compatible"]:
                raise ValueError(
                    f"bronze_events: breaking schema drift in {source_file}: "
                    f"removed={drift['removed']} retyped={drift['retyped']}"
                )
            for col in drift["added"]:
                self.catalog.add_column(
                    "bronze_events",
                    col,
                    df.schema[col].dataType.simpleString(),
                )
            self.catalog.append("bronze_events", df)
        else:
            self.catalog.create_table("bronze_events", df)
        n = self.catalog.row_count("bronze_events")
        return {"table": "bronze_events", "total_rows": n, "drift": drift}

    def ingest_bronze_interval(
        self,
        raw: DataFrame,
        source_file: str,
        *,
        event_time_col: str,
        interval_start,
        interval_end,
    ) -> dict:
        """Logical-date-parameterized bronze ingest (the Airflow
        data-interval contract a scheduled/backfilled DAG run follows):
        append ONLY the raw rows whose ``event_time_col`` falls in
        ``[interval_start, interval_end)`` AND is past the bronze
        event-time high watermark.

        The watermark is what makes a REPLAY a no-op: after dates
        1..N are ingested, re-running date k filters the batch to day
        k's rows, all of which are ≤ the watermark (max event time
        already in bronze) — zero rows append, the table version does
        not advance. That is the idempotency Airflow asks of backfill
        tasks, enforced engine-side. Intervals must therefore replay in
        ASCENDING order (``orchestrate.backfill`` runs sequentially
        ascending); an out-of-order gap older than the watermark is
        skipped by design — backfill it before, not after, later dates.

        At scale both predicates fold to literals and push to the
        parquet scan (partition pruning on an event-date-partitioned
        raw source); the watermark read is one MAX served by footer
        stats. Returns ``rows_appended`` (0 for a no-op replay).
        """
        col = F.col(event_time_col)
        batch = raw.filter(
            (col >= F.lit(interval_start)) & (col < F.lit(interval_end))
        )
        if self.catalog.table_exists("bronze_events"):
            wm = (
                self.catalog.read("bronze_events")
                .agg(F.max(event_time_col))
                .first()[0]
            )
            if wm is not None:
                batch = batch.filter(col > F.lit(wm))
        n = batch.count()
        if n == 0:
            return {
                "table": "bronze_events",
                "rows_appended": 0,
                "skipped": True,
            }
        out = self.ingest_bronze(batch, source_file)
        out["rows_appended"] = n
        out["skipped"] = False
        return out

    def check_bronze_freshness(
        self, *, warn_after_hours: float = 24.0, error_after_hours: float = 48.0
    ) -> dict:
        """Source freshness SLA on bronze's loaded-at column (reference:
        sources.yml freshness warn 24 h / error 48 h)."""
        return quality.check_freshness(
            self.catalog.read("bronze_events"),
            "_ingestion_time",
            warn_after_hours=warn_after_hours,
            error_after_hours=error_after_hours,
        )

    def verify_bronze(self) -> dict[str, DataFrame]:
        """The reference's verify_ingestion battery
        (bronze_ingestion.py:198-255): counts by partition/source/type."""
        b = self.catalog.read("bronze_events")
        return {
            "total": b.agg(F.count("*").alias("n")),
            "by_source": b.groupBy("_source_file").count().orderBy("_source_file"),
            "by_type": b.groupBy("event_type").count().orderBy(F.desc("count")),
        }

    # -- silver ------------------------------------------------------------
    def build_silver(self, *, dedup_on_write: bool = False, **silver_kwargs) -> dict:
        """Incremental silver: only bronze rows past the silver watermark
        (max _ingestion_time seen) are cleaned/deduped/appended.

        The W1 dedup runs within the increment only — an
        ``event_unique_id`` already materialized by an earlier batch
        would append again (the reference's inert ``unique_key`` quirk,
        ``silver_ecommerce_events.sql``: dbt ``unique_key`` without an
        incremental merge strategy enforces nothing). ``dedup_on_write``
        makes the gate enforcing: the increment is anti-joined against
        the existing silver keys before append. At scale the anti-join's
        build side is the increment (small, broadcastable) probed
        against the partition-pruned silver scan.
        """
        bronze = self.catalog.read("bronze_events")
        existing = None
        if self.catalog.table_exists("silver_events"):
            existing = self.catalog.read("silver_events")
            wm = existing.agg(F.max("_bronze_ingestion_time")).first()[0]
            if wm is not None:
                bronze = bronze.filter(F.col("_ingestion_time") > F.lit(wm))
            mode = "append"
        else:
            mode = "create"
        transformed = silver_events(bronze, **silver_kwargs).withColumn(
            "_bronze_ingestion_time", F.col("_ingestion_time")
        )
        if mode == "append" and dedup_on_write:
            transformed = transformed.join(
                existing.select("event_unique_id"),
                "event_unique_id",
                "left_anti",
            )
        # write-time quality counters ride the write job itself (the
        # Observation API) — zero extra passes over the increment; the
        # deep post-build audit (check_silver) stays a separate tier.
        # The observation attaches to the exact DataFrame the write
        # action runs on (an Observation reports its FIRST action, so a
        # probe on an observed frame would poison the metrics).
        def _observed(df: DataFrame):
            return quality.observe_quality(
                df,
                [
                    ("rows_written", F.count(F.lit(1))),
                    (
                        "null_event_date",
                        F.sum(
                            F.when(F.col("event_date").isNull(), 1).otherwise(0)
                        ),
                    ),
                    (
                        "negative_price",
                        F.sum(F.when(F.col("price") < 0, 1).otherwise(0)),
                    ),
                ],
            )

        if mode == "create":
            obs_df, obs = _observed(transformed)
            self.catalog.create_table(
                "silver_events", obs_df, partition_by=["event_date"]
            )
            observed = dict(obs.get)
        elif transformed.limit(1).count() > 0:
            obs_df, obs = _observed(transformed)
            self.catalog.append("silver_events", obs_df)
            observed = dict(obs.get)
        else:
            observed = {"rows_written": 0}
        return {"table": "silver_events", "mode": mode, "observed": observed}

    def check_silver(self) -> dict[str, int]:
        s = self.catalog.read("silver_events")
        return quality.run_checks(
            s,
            [
                ("unique_event_unique_id", lambda d: quality.check_unique(d, "event_unique_id")),
                ("not_null_event_date", lambda d: quality.check_not_null(d, "event_date")),
                ("price_non_negative", lambda d: quality.check_accepted_range(d, "price", min_value=0)),
                (
                    "price_bucket_domain",
                    lambda d: quality.check_accepted_values(
                        d, "price_bucket",
                        ["UNKNOWN", "0-50", "50-100", "100-200", "200-500", "500+"],
                    ),
                ),
            ],
        )

    # -- gold --------------------------------------------------------------
    def gold_builders(self) -> dict[str, Callable[[DataFrame], DataFrame]]:
        kw = {"cart_type": self.cart_type}
        as_of = self.as_of_date
        return {
            "gold_daily_sales_summary": lambda s: gold_ops.daily_sales_summary(s, **kw),
            "gold_product_performance": lambda s: gold_ops.product_performance(
                s, as_of_date=as_of, **kw
            ),
            "gold_category_performance": gold_ops.category_performance,
            "gold_user_rfm_segments": lambda s: gold_ops.user_rfm_segments(
                s, as_of_date=as_of or "2024-02-01"
            ),
            "gold_user_journey_funnel": lambda s: gold_ops.user_journey_funnel(s, **kw),
            "gold_conversion_funnel_daily": lambda s: gold_ops.conversion_funnel_daily(
                s, **kw
            ),
            "gold_hourly_traffic": lambda s: gold_ops.hourly_traffic(s, **kw),
        }

    #: Serving-layer partition keys, mirroring the reference's
    #: ``partition_by=['event_date']`` on every date-grained gold model
    #: (gold_daily_sales_summary.sql:4) — a date-filtered mart read then
    #: partition-prunes at planning time instead of scanning all days.
    GOLD_PARTITION_BY: dict[str, list[str]] = {
        "gold_daily_sales_summary": ["sale_date"],
        "gold_conversion_funnel_daily": ["analysis_date"],
        "gold_hourly_traffic": ["event_date"],
    }

    def build_gold(self, only: list[str] | None = None) -> dict[str, int]:
        """Full-refresh gold marts (reference: dbt `table` semantics for
        most gold models; the aggregates are small so replace is cheap).
        Date-grained marts materialize partitioned per GOLD_PARTITION_BY."""
        silver = self.catalog.read("silver_events")
        out: dict[str, int] = {}
        for name, builder in self.gold_builders().items():
            if only and name not in only:
                continue
            df = builder(silver)
            if self.catalog.table_exists(name):
                self.catalog.overwrite(name, df)
            else:
                self.catalog.create_table(
                    name, df, partition_by=self.GOLD_PARTITION_BY.get(name)
                )
            out[name] = self.catalog.row_count(name)
        return out

    # -- end to end --------------------------------------------------------
    def run(self, raw: DataFrame, source_file: str) -> dict:
        stats = {"bronze": self.ingest_bronze(raw, source_file)}
        stats["bronze_freshness"] = self.check_bronze_freshness()
        stats["silver"] = self.build_silver()
        stats["silver_checks"] = self.check_silver()
        stats["gold"] = self.build_gold()
        return stats
