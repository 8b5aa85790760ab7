"""Gold-layer marts: the reference's 7 aggregate models as pure
DataFrame-in/DataFrame-out functions over the silver schema.

Reference parity (compiled SQL under dbt/target/run/.../models/gold/):
- daily_sales_summary       core/gold_daily_sales_summary.sql
- product_performance       core/gold_product_performance.sql
- category_performance      core/gold_category_performance.sql   (W2 + J1)
- user_rfm_segments         core/gold_user_rfm_segments.sql      (W3 NTILE)
- user_journey_funnel       funnel/gold_user_journey_funnel.sql
- conversion_funnel_daily   funnel/gold_conversion_funnel_daily.sql
- hourly_traffic            traffic/gold_hourly_traffic.sql

Determinism contract (for the DuckDB correctness oracle):
- Money is accumulated in DECIMAL(18,2) (exact, order-independent) and
  cast to DOUBLE at the end, so Spark and any ANSI engine agree bit-for-bit.
- Ratios/averages divide two already-identical doubles, then ROUND(…,2).
- Window orderings get explicit tiebreakers (the reference leaves ties
  engine-defined).
- CURRENT_DATE/CURRENT_TIMESTAMP are injectable (``as_of_date``) —
  SURVEY.md §7.3 #2.

Scale notes: every mart is one hash-aggregate over a date-partitioned
silver table → map-side partial agg, single shuffle on the grouping key.
COUNT(DISTINCT CASE …) expands via Catalyst's Expand; AQE handles skew.
The NTILE windows in the RFM mart are global (single partition) by
reference semantics — `scalable_ntile=True` computes the same 5-bucket
scores via percent_rank-free distributed quantile assignment when
user-cardinality is huge (trade: identical except at bucket boundaries).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from data_lakehouse_spark.functions import scalars

__all__ = [
    "daily_sales_summary",
    "product_performance",
    "category_performance",
    "user_rfm_segments",
    "user_journey_funnel",
    "conversion_funnel_daily",
    "hourly_traffic",
    "cohort_retention",
    "new_vs_returning_daily",
    "active_user_stickiness",
]

_DEC = "decimal(18,2)"


def _zero() -> Column:
    return F.lit(0).cast(_DEC)


def _money(cond: Column, price: Column | str = "price") -> Column:
    """SUM(CASE WHEN cond THEN price ELSE 0 END) — exact decimal, → double."""
    p = (F.col(price) if isinstance(price, str) else price).cast(_DEC)
    return F.sum(F.when(cond, F.coalesce(p, _zero())).otherwise(_zero())).cast("double")


def _cnt(cond: Column) -> Column:
    """COUNT(CASE WHEN cond THEN 1 END)."""
    return F.count(F.when(cond, F.lit(1))).cast("bigint")


def _cntd(cond: Column, col: str) -> Column:
    """COUNT(DISTINCT CASE WHEN cond THEN col END)."""
    return F.countDistinct(F.when(cond, F.col(col))).cast("bigint")


def _ratio(num: Column, den: Column, scale: float = 1.0) -> Column:
    """ROUND(num * scale / NULLIF(den, 0), 2) — half-up, engine-stable."""
    return scalars.round_half_up(
        num.cast("double") * F.lit(scale) / F.when(den != 0, den.cast("double")),
        2,
    )


def _is(event_type: str) -> Column:
    return F.col("event_type") == event_type


def daily_sales_summary(silver: DataFrame, *, cart_type: str = "cart") -> DataFrame:
    """gold_daily_sales_summary: per-day revenue/traffic/conversion.

    Two-level aggregate instead of a 2-distinct-group Expand (guide
    §2.2): pre-collapse to one row per (sale_date, user) — map-side
    combinable — then the distinct user counts become conditional
    counts over unique users and the event counts / decimal revenue
    re-aggregate exactly (associative). No Expand (×3) node."""
    purchase, view, cart = _is("purchase"), _is("view"), _is(cart_type)
    cells = silver.groupBy(
        F.col("event_date").alias("sale_date"), "user_id"
    ).agg(
        F.sum(
            F.when(
                purchase, F.coalesce(F.col("price").cast(_DEC), _zero())
            ).otherwise(_zero())
        ).alias("_rev"),
        _cnt(purchase).alias("_np"),
        _cnt(view).alias("_nv"),
        _cnt(cart).alias("_nc"),
    )
    df = cells.groupBy("sale_date").agg(
        F.sum("_rev").cast("double").alias("total_revenue"),
        F.sum("_np").cast("bigint").alias("total_orders"),
        _cnt(F.col("_np") > 0).alias("unique_customers"),
        F.sum("_np").cast("bigint").alias("total_items_purchased"),
        _cnt(F.col("_nv") > 0).alias("unique_viewers"),
        F.sum("_nv").cast("bigint").alias("total_views"),
        F.sum("_nc").cast("bigint").alias("total_carts"),
    )
    df = (
        df.withColumn(
            "avg_order_value", _ratio(F.col("total_revenue"), F.col("total_orders"))
        )
        .withColumn(
            "conversion_rate",
            _ratio(F.col("total_orders"), F.col("total_views"), 100.0),
        )
        .withColumn(
            "cart_abandonment_rate",
            _ratio(
                F.col("total_carts") - F.col("total_orders"),
                F.col("total_carts"),
                100.0,
            ),
        )
    )
    return df.orderBy("sale_date")


def product_performance(
    silver: DataFrame,
    *,
    cart_type: str = "cart",
    as_of_date: str | None = None,
    product_col: str = "product_id",
) -> DataFrame:
    """gold_product_performance: per-product funnel counts + revenue."""
    purchase, view, cart = _is("purchase"), _is("view"), _is(cart_type)
    price_dec = F.col("price").cast(_DEC)
    # Two-level aggregate instead of a 3-distinct-group Expand (guide
    # §2.2): pre-collapse to one row per (product, user) — map-side
    # combinable — then the distinct user counts become conditional
    # counts over unique users; max/count/decimal-sum re-aggregate
    # exactly (all associative, NULL-ignoring at both levels).
    cells = (
        silver.filter(F.col(product_col).isNotNull())
        .groupBy(F.col(product_col).alias("product_id"), "user_id")
        .agg(
            F.max("category_level_1").alias("_c1"),
            F.max("category_level_2").alias("_c2"),
            F.max("brand").alias("_b"),
            _cnt(view).alias("_nv"),
            _cnt(cart).alias("_nc"),
            _cnt(purchase).alias("_np"),
            F.sum(
                F.when(purchase, F.coalesce(price_dec, _zero())).otherwise(
                    _zero()
                )
            ).alias("_rev"),
            # AVG(CASE WHEN purchase THEN price END): exact decimal sum /
            # non-null count, rounded — engine-agnostic result.
            F.sum(F.when(purchase, price_dec)).alias("_ps"),
            _cnt(purchase & F.col("price").isNotNull()).alias("_pn"),
            F.max(F.when(purchase, F.col("event_date"))).alias("_ls"),
        )
    )
    df = (
        cells.groupBy("product_id")
        .agg(
            F.max("_c1").alias("category_level_1"),
            F.max("_c2").alias("category_level_2"),
            F.max("_b").alias("brand"),
            F.sum("_nv").cast("bigint").alias("total_views"),
            _cnt(F.col("_nv") > 0).alias("unique_viewers"),
            F.sum("_nc").cast("bigint").alias("total_carts"),
            _cnt(F.col("_nc") > 0).alias("unique_carters"),
            F.sum("_np").cast("bigint").alias("total_purchases"),
            _cnt(F.col("_np") > 0).alias("unique_buyers"),
            F.sum("_rev").cast("double").alias("total_revenue"),
            F.sum("_ps").cast("double").alias("_psum"),
            F.sum("_pn").cast("bigint").alias("_pcnt"),
            F.max("_ls").alias("last_sold_date"),
        )
        .withColumn("avg_price", _ratio(F.col("_psum"), F.col("_pcnt")))
        .drop("_psum", "_pcnt")
        .withColumn(
            "view_to_cart_rate",
            _ratio(F.col("total_carts"), F.col("total_views"), 100.0),
        )
        .withColumn(
            "cart_to_purchase_rate",
            _ratio(F.col("total_purchases"), F.col("total_carts"), 100.0),
        )
        .withColumn(
            "overall_conversion_rate",
            _ratio(F.col("total_purchases"), F.col("total_views"), 100.0),
        )
    )
    if as_of_date is not None:
        df = df.withColumn(
            "days_since_last_sale",
            F.datediff(F.lit(as_of_date).cast("date"), F.col("last_sold_date")).cast(
                "bigint"
            ),
        )
    return df.orderBy(F.desc("total_revenue"), "product_id")


def category_performance(silver: DataFrame) -> DataFrame:
    """gold_category_performance: daily category rollup + top brand.

    W2 (ROW_NUMBER top-1-per-group, brand tiebreak added) feeding J1
    (3-key LEFT JOIN). Both sides aggregate from the same silver scan;
    the join keys equal the groupBy keys so AQE plans a cheap
    shuffle-reuse or broadcast of the ranked side.

    Parity note (SURVEY.md §4 quirk #1 is about incremental watermarks —
    full-refresh semantics shown here are identical).

    Measured REJECT (sf0.1, warm): sharing one repartition(keys)
    exchange between both branches (filters/conditions moved post-agg so
    the subplans match) is 30% SLOWER than the two-scan shape — column
    pruning specializes each branch's projection so ReuseExchange never
    fires (4 FileScans remain), and the raw-row repartition forfeits
    map-side partial aggregation, which is also the wrong trade at
    100 TB. Measured REJECT #2 (r3): localCheckpointing the joined
    projection so both branches read it from memory — materializing
    600 k wide rows costs more than the second scan + broadcast join it
    saves (2.47 s → 2.59 s). The two-scan/partial-agg/broadcast plan
    stands.
    """
    purchase = _is("purchase")
    keys = ["analysis_date", "category_level_1", "category_level_2"]

    category_daily = (
        silver.filter(F.col("category_level_1").isNotNull())
        .groupBy(
            F.col("event_date").alias("analysis_date"),
            "category_level_1",
            "category_level_2",
        )
        .agg(
            _money(purchase).alias("total_revenue"),
            _cnt(purchase).alias("total_orders"),
            _cntd(purchase, "user_id").alias("unique_customers"),
        )
        .withColumn(
            "avg_order_value",
            _ratio(F.col("total_revenue"), F.col("total_orders")),
        )
    )
    brand_daily = (
        silver.filter(
            purchase
            & F.col("brand").isNotNull()
            & F.col("category_level_1").isNotNull()
        )
        .groupBy(
            F.col("event_date").alias("analysis_date"),
            "category_level_1",
            "category_level_2",
            "brand",
        )
        .agg(
            F.sum(F.col("price").cast(_DEC)).cast("double").alias("brand_revenue")
        )
    )
    w = Window.partitionBy(*keys).orderBy(F.desc("brand_revenue"), F.asc("brand"))
    top_brand = (
        brand_daily.withColumn("brand_rank", F.row_number().over(w))
        .filter(F.col("brand_rank") == 1)
        .select(
            *keys,
            F.col("brand").alias("top_brand"),
            F.col("brand_revenue").alias("top_brand_revenue"),
        )
    )
    # top_brand is one row per (date, c1, c2) group — bounded by the
    # category×day grid, not the fact volume — so broadcast it instead
    # of letting the LEFT join sort-merge (which would shuffle+sort the
    # category_daily side a second time after its aggregation exchange)
    return category_daily.join(
        F.broadcast(top_brand), on=keys, how="left"
    ).orderBy("analysis_date", F.desc("total_revenue"))


def user_rfm_segments(
    silver: DataFrame,
    *,
    as_of_date: str,
    scalable_ntile: bool = False,
) -> DataFrame:
    """gold_user_rfm_segments: NTILE(5) RFM scoring + segment labels.

    ``as_of_date`` replaces the reference's CURRENT_DATE() for
    reproducibility. NTILE directions follow the reference exactly
    (recency ASC, frequency DESC, monetary DESC) with user_id tiebreaks.

    The default path computes EXACT NTILE semantics distributed (no
    global single-partition window — see the exact branch below), so it
    is both the reference-parity path and the 100 TB path.
    ``scalable_ntile=True`` keeps the cheaper approx-quantile bucket
    twin (one percentile fold, no extra passes) for when exact tile
    boundaries don't matter.
    """
    purchase = _is("purchase")
    base = (
        silver.filter(F.col("user_id").isNotNull())
        .groupBy("user_id")
        .agg(
            F.min(F.when(purchase, F.col("event_date"))).alias("first_purchase_date"),
            F.max(F.when(purchase, F.col("event_date"))).alias("last_purchase_date"),
            _cnt(purchase).alias("frequency"),
            _money(purchase).alias("monetary_value"),
            F.countDistinct("user_session").cast("bigint").alias("total_sessions"),
        )
        .filter(F.col("frequency") > 0)
        .withColumn(
            "recency_days",
            F.datediff(
                F.lit(as_of_date).cast("date"), F.col("last_purchase_date")
            ).cast("bigint"),
        )
        .withColumn(
            "avg_order_value", _ratio(F.col("monetary_value"), F.col("frequency"))
        )
    )
    # one silver scan either way: the per-user base feeds multiple
    # passes (boundary fold / range-sample + offset-stats jobs), so it
    # is persisted and materialized once by whichever pass runs first
    from pyspark import StorageLevel

    base = base.persist(StorageLevel.MEMORY_AND_DISK)
    _persisted_base = base

    if scalable_ntile:
        # Distributed 5-bucket scoring: bucket on approx quantile
        # boundaries instead of a total-sort NTILE. All three metrics'
        # boundaries come from ONE lazy percentile_approx aggregate
        # broadcast back onto the rows — the classic two-distributed-pass
        # quantile design (stats pass + score pass), with no driver
        # action and no single-partition sort. (Rejected: per-metric
        # df.approxQuantile — each call is a driver ACTION re-executing
        # the whole upstream pipeline; measured 4 passes total, ~2.5×
        # slower end-to-end.) The persisted base means the boundary
        # fold and the scoring pass share ONE silver scan.
        probs = F.array(*[F.lit(p) for p in (0.2, 0.4, 0.6, 0.8)])
        acc = F.lit(10_000)
        bounds = base.agg(
            F.percentile_approx("recency_days", probs, acc).alias("_qr"),
            F.percentile_approx("frequency", probs, acc).alias("_qf"),
            F.percentile_approx("monetary_value", probs, acc).alias("_qm"),
        )
        base = base.crossJoin(F.broadcast(bounds))
        for metric, q, asc, out in (
            ("recency_days", "_qr", True, "rfm_recency_score"),
            ("frequency", "_qf", False, "rfm_frequency_score"),
            ("monetary_value", "_qm", False, "rfm_monetary_score"),
        ):
            base = base.withColumn(
                out, _quantile_bucket(F.col(metric), F.col(q), asc=asc)
            )
        base = base.drop("_qr", "_qf", "_qm")
        from data_lakehouse_spark import cacheutil

        cacheutil.rotate("gold.rfm_scalable", [_persisted_base])
    else:
        # Reference-exact NTILE semantics, DISTRIBUTED: each metric's
        # total order runs through relational.global_order_index (range
        # exchange + per-partition local ranks + a bounded driver-side
        # partition-offset table) and the bucket comes from the exact
        # SQL NTILE formula on the global row_number — bit-identical to
        # Window.orderBy(...).ntile(5) (property-pinned in
        # tests/test_relational.py) with no single-partition stage at
        # any input size.
        #
        # The three orderings are INDEPENDENT given the persisted base,
        # so each scores a narrow (user_id, metric) projection and the
        # bounded offset-stat jobs run concurrently on driver threads
        # (wall-clock ≈ the slowest, not the sum); the score frames
        # then hash-join back on user_id. The narrow frames stay
        # persisted: the offsets are only valid for their materialized
        # range partitioning (see global_order_index), and they are
        # per-user-metric pairs — metadata-sized next to the corpus.
        from concurrent.futures import ThreadPoolExecutor

        from data_lakehouse_spark import cacheutil
        from data_lakehouse_spark.operators import relational

        handles: list[DataFrame] = [base]

        def _score(metric: str, asc: bool, out: str) -> DataFrame:
            key = F.col(metric).asc() if asc else F.col(metric).desc()
            d, n_rows, _, cached = relational.global_order_index(
                base.select("user_id", metric),
                [key, F.col("user_id").asc()],
                rn_col="_rnt",
            )
            handles.append(cached)
            return d.select(
                "user_id",
                relational.ntile_from_row_number(F.col("_rnt"), n_rows, 5).alias(
                    out
                ),
            )

        metrics = (
            ("recency_days", True, "rfm_recency_score"),
            ("frequency", False, "rfm_frequency_score"),
            ("monetary_value", False, "rfm_monetary_score"),
        )
        with ThreadPoolExecutor(max_workers=3) as pool:
            scored = list(pool.map(lambda a: _score(*a), metrics))
        for sdf in scored:
            base = base.join(sdf, "user_id")
        # generational release: the persisted base + 3 exchange frames
        # stay pinned (offset tables are only valid for their
        # materialized partitioning) until the NEXT invocation rotates
        # them out — bounds CacheManager growth to one generation under
        # bench's repeated passes / a long-lived endpoint.
        cacheutil.rotate("gold.rfm_exact_ntile", handles)
    base = (
        base.withColumn("rfm_recency_score", F.col("rfm_recency_score").cast("bigint"))
        .withColumn("rfm_frequency_score", F.col("rfm_frequency_score").cast("bigint"))
        .withColumn("rfm_monetary_score", F.col("rfm_monetary_score").cast("bigint"))
        .withColumn(
            "rfm_segment",
            scalars.rfm_segment(
                "rfm_recency_score", "rfm_frequency_score", "rfm_monetary_score"
            ),
        )
        .withColumn(
            "customer_lifetime_value", scalars.clv(F.col("monetary_value"))
        )
    )
    return base.orderBy(F.desc("monetary_value"), "user_id")


def _quantile_bucket(c: Column, q: Column, *, asc: bool) -> Column:
    """1..5 bucket from a 4-element quantile-boundary array column.

    NULL metric values score NULL (a NULL metric has no meaningful
    quantile); a NULL/short boundary array (empty input) falls through
    to a constant bucket, which only ever applies to zero rows.
    """
    expr = (
        F.when(c <= q.getItem(0), 1)
        .when(c <= q.getItem(1), 2)
        .when(c <= q.getItem(2), 3)
        .when(c <= q.getItem(3), 4)
        .otherwise(5)
    )
    if not asc:
        expr = F.lit(6) - expr
    return F.when(c.isNull(), None).otherwise(expr)


def _approx_ntile(df: DataFrame, col: str, *, asc: bool, out: str) -> DataFrame:
    """Assign 1..5 buckets from approx quantile boundaries (scale path).

    One lightweight stats pass (approxQuantile on the driver) + a
    broadcast CASE — no global sort, no single-partition window.
    NOTE: ``df.approxQuantile`` is a driver ACTION that re-executes the
    upstream pipeline; when scoring several metrics of one DataFrame,
    prefer a single lazy ``percentile_approx`` aggregate +
    ``_quantile_bucket`` (see ``user_rfm_segments``). Empty input
    (approxQuantile returns no boundaries) yields no rows to score, so
    any constant bucket is consistent; NULL metric values score NULL.
    """
    qs = df.approxQuantile(col, [0.2, 0.4, 0.6, 0.8], 0.001)
    c = F.col(col)
    if not qs:
        return df.withColumn(out, F.when(c.isNull(), None).otherwise(1))
    expr = F.when(c <= qs[0], 1).when(c <= qs[1], 2).when(c <= qs[2], 3).when(
        c <= qs[3], 4
    ).otherwise(5)
    if not asc:
        expr = F.lit(6) - expr
    return df.withColumn(out, F.when(c.isNull(), None).otherwise(expr))


def user_journey_funnel(silver: DataFrame, *, cart_type: str = "cart") -> DataFrame:
    """gold_user_journey_funnel: per-user lifecycle stages + flags."""
    view, cart, purchase = _is("view"), _is(cart_type), _is("purchase")
    removal = _is("remove_from_cart")
    flag = lambda cond: F.max(F.when(cond, 1).otherwise(0)).cast("bigint")  # noqa: E731

    df = (
        silver.filter(F.col("user_id").isNotNull())
        .groupBy("user_id")
        .agg(
            F.min(F.when(view, F.col("event_date"))).alias("first_view_date"),
            F.min(F.when(cart, F.col("event_date"))).alias("first_cart_date"),
            F.min(F.when(purchase, F.col("event_date"))).alias("first_purchase_date"),
            F.max("event_date").alias("last_activity_date"),
            flag(view).alias("has_viewed"),
            flag(cart).alias("has_added_to_cart"),
            flag(purchase).alias("has_purchased"),
            flag(removal).alias("has_removed_from_cart"),
            _cnt(view).alias("total_views"),
            _cnt(cart).alias("total_carts"),
            _cnt(purchase).alias("total_purchases"),
            _cnt(removal).alias("total_cart_removals"),
            F.countDistinct("user_session").cast("bigint").alias("total_sessions"),
        )
        .withColumn("analysis_period", F.lit("lifetime"))
        .withColumn(
            "days_to_first_cart",
            F.datediff("first_cart_date", "first_view_date").cast("bigint"),
        )
        .withColumn(
            "days_to_first_purchase",
            F.datediff("first_purchase_date", "first_view_date").cast("bigint"),
        )
        .withColumn(
            "current_funnel_stage",
            F.when(
                (F.col("has_purchased") == 1) & (F.col("total_purchases") >= 3),
                "repeat_buyer",
            )
            .when(F.col("has_purchased") == 1, "purchaser")
            .when(
                (F.col("has_added_to_cart") == 1) & (F.col("has_purchased") == 0),
                "cart_abandoner",
            )
            .when(
                (F.col("has_viewed") == 1) & (F.col("has_added_to_cart") == 0),
                "viewer_only",
            )
            .otherwise("unknown"),
        )
        .withColumn(
            "is_cart_abandoner",
            (F.col("has_added_to_cart") == 1) & (F.col("has_purchased") == 0),
        )
        .withColumn(
            "is_impulse_buyer",
            F.when(
                (F.col("has_purchased") == 1)
                & (F.col("days_to_first_purchase") <= 0),
                F.lit(True),
            ).otherwise(F.lit(False)),
        )
        .withColumn("is_researcher", F.col("total_views") >= 5)
    )
    return df.orderBy(F.desc("total_purchases"), F.desc("total_views"), "user_id")


def conversion_funnel_daily(silver: DataFrame, *, cart_type: str = "cart") -> DataFrame:
    """gold_conversion_funnel_daily: 5-key funnel with stage rates.

    Two-level aggregate instead of a 3-distinct-group Expand (guide
    §2.2): the multi-distinct rewrite multiplied every fact row ×4
    (3 distinct groups + 1 for the plain aggregates) before the
    exchange. Pre-collapsing to ONE row per (group keys, user) — a
    map-side-combinable groupBy — makes user_id unique within each
    group, so COUNT(DISTINCT CASE WHEN cond THEN user END) ≡
    COUNT(CASE WHEN per-user-flag THEN 1 END), and the stage counts /
    revenue re-aggregate exactly (counts and decimal sums are
    associative). No Expand node, ~4× fewer exchanged rows."""
    view, cart, purchase = _is("view"), _is(cart_type), _is("purchase")
    keys = [
        "analysis_date",
        "category_level_1",
        "category_level_2",
        "time_of_day",
        "is_weekend",
    ]
    cells = silver.groupBy(
        F.col("event_date").alias("analysis_date"),
        "category_level_1",
        "category_level_2",
        "time_of_day",
        "is_weekend",
        "user_id",
    ).agg(
        _cnt(view).alias("_nv"),
        _cnt(cart).alias("_nc"),
        _cnt(purchase).alias("_np"),
        F.sum(
            F.when(
                purchase, F.coalesce(F.col("price").cast(_DEC), _zero())
            ).otherwise(_zero())
        ).alias("_rev"),
    )
    df = (
        cells.groupBy(*keys)
        .agg(
            _cnt(F.col("_nv") > 0).alias("stage_1_view_users"),
            _cnt(F.col("_nc") > 0).alias("stage_2_cart_users"),
            _cnt(F.col("_np") > 0).alias("stage_3_purchase_users"),
            F.sum("_nv").cast("bigint").alias("stage_1_view_events"),
            F.sum("_nc").cast("bigint").alias("stage_2_cart_events"),
            F.sum("_np").cast("bigint").alias("stage_3_purchase_events"),
            F.sum("_rev").cast("double").alias("total_revenue"),
        )
        .withColumn(
            "view_to_cart_rate",
            _ratio(F.col("stage_2_cart_users"), F.col("stage_1_view_users"), 100.0),
        )
        .withColumn(
            "cart_to_purchase_rate",
            _ratio(F.col("stage_3_purchase_users"), F.col("stage_2_cart_users"), 100.0),
        )
        .withColumn(
            "overall_conversion_rate",
            _ratio(F.col("stage_3_purchase_users"), F.col("stage_1_view_users"), 100.0),
        )
        .withColumn(
            "dropoff_after_view",
            (F.col("stage_1_view_users") - F.col("stage_2_cart_users")).cast("bigint"),
        )
        .withColumn(
            "dropoff_after_cart",
            (F.col("stage_2_cart_users") - F.col("stage_3_purchase_users")).cast(
                "bigint"
            ),
        )
        .withColumn(
            "dropoff_rate_view",
            _ratio(F.col("dropoff_after_view"), F.col("stage_1_view_users"), 100.0),
        )
        .withColumn(
            "dropoff_rate_cart",
            _ratio(F.col("dropoff_after_cart"), F.col("stage_2_cart_users"), 100.0),
        )
        .withColumn(
            "avg_order_value",
            _ratio(F.col("total_revenue"), F.col("stage_3_purchase_users")),
        )
        .withColumn(
            "revenue_per_viewer",
            _ratio(F.col("total_revenue"), F.col("stage_1_view_users")),
        )
        .filter(F.col("stage_1_view_users") > 0)
    )
    return df.orderBy("analysis_date", F.desc("total_revenue"))


def hourly_traffic(silver: DataFrame, *, cart_type: str = "cart") -> DataFrame:
    """gold_hourly_traffic: per (date, hour) traffic + revenue."""
    view, cart, purchase = _is("view"), _is(cart_type), _is("purchase")
    df = (
        silver.groupBy("event_date", "event_hour", "day_of_week_num")
        .agg(
            F.count("*").cast("bigint").alias("total_events"),
            F.countDistinct("user_id").cast("bigint").alias("unique_users"),
            _cnt(view).alias("total_views"),
            _cnt(cart).alias("total_carts"),
            _cnt(purchase).alias("total_purchases"),
            _money(purchase).alias("revenue"),
        )
        .withColumn("day_of_week", scalars.day_name("day_of_week_num"))
        .drop("day_of_week_num")
    )
    return df.orderBy("event_date", "event_hour")


def cohort_retention(
    silver: DataFrame,
    *,
    period_days: int = 7,
    activity_filter: Column | None = None,
) -> DataFrame:
    """Cohort retention matrix: users cohorted by their FIRST activity
    date, then counted distinctly in each ``period_days`` bucket after
    it (the classic week-over-week retention triangle BI tools derive
    from raw events; the reference's dbt marts stop at funnel stages —
    this is the longitudinal twin).

    Periods bucket by exact day arithmetic from the user's own cohort
    date (``floor(datediff/period)``), NOT calendar-week truncation, so
    the semantics are engine-portable (ISO-week rules differ across
    engines) and cohorts are not split by year boundaries.

    Scale: per-user MIN is one map-side-combinable shuffle on
    ``user_id``; the activity join re-shuffles events on the same key
    (co-partitioned exchange, no broadcast needed — both sides are
    user-keyed); the final distinct-count aggregates on
    ``(cohort_date, period)``. ``cohort_size`` re-aggregates the
    per-user cohort table (one row per user — already shuffled) and
    joins the matrix by ``cohort_date`` (one row per cohort — tiny,
    broadcast), never re-scanning events.

    ``activity_filter`` optionally restricts which events count as
    "active" in each period (e.g. only purchases) while cohorting and
    ``cohort_size`` still use ALL activity — which is why sizes come
    from the cohort table, not the period-0 matrix cell (under a
    filter, period 0 may have no qualifying activity at all).
    """
    cohorts = silver.groupBy("user_id").agg(
        F.min("event_date").alias("cohort_date")
    )
    act = silver if activity_filter is None else silver.filter(activity_filter)
    activity = (
        act.select("user_id", "event_date")
        .join(cohorts, "user_id")
        .select(
            "cohort_date",
            F.floor(
                F.datediff(F.col("event_date"), F.col("cohort_date"))
                / F.lit(period_days)
            )
            .cast("bigint")
            .alias("period"),
            "user_id",
        )
    )
    matrix = activity.groupBy("cohort_date", "period").agg(
        F.countDistinct("user_id").cast("bigint").alias("active_users")
    )
    sizes = cohorts.groupBy("cohort_date").agg(
        F.count("*").cast("bigint").alias("cohort_size")
    )
    df = matrix.join(F.broadcast(sizes), "cohort_date").withColumn(
        "retention_pct",
        _ratio(F.col("active_users"), F.col("cohort_size"), 100.0),
    )
    return df.orderBy("cohort_date", "period")


def new_vs_returning_daily(silver: DataFrame) -> DataFrame:
    """Per-day split of active users into NEW (first-ever activity that
    day) vs RETURNING — the acquisition-vs-retention headline.

    ONE full-width exchange (guide §2.4): the (user, day) pairs are
    hash-repartitioned on user_id alone — that satisfies the DISTINCT's
    (user_id, event_date) clustering, the per-user MIN that follows it
    (first-ever day = min over the distinct pairs, same value as min
    over raw rows), and the user-keyed join of the two — so the
    collapse, the cohort derivation and the join all run on the single
    exchange; only the final per-day aggregate (collapsed-pair-sized)
    shuffles again. The previous shape exchanged three times: the
    distinct on (user, date), the cohort aggregate on user, and the
    join's stream side re-clustering (user, date)-partitioned pairs
    back to user.

    Reuse assumption: ``pairs`` feeds two plan branches (the cohort
    groupBy and the join's stream side). The exchange map stage is
    reused across them, but the distinct's final aggregation runs once
    per consumer — measured cheaper here than a localCheckpoint
    materialization (collapsed pairs are small); revisit if profiles
    show the double final-agg dominating."""
    pairs = (
        silver.select("user_id", "event_date")
        .repartition(F.col("user_id"))
        .distinct()
    )
    cohorts = pairs.groupBy("user_id").agg(
        F.min("event_date").alias("_first")
    )
    activity = pairs.join(cohorts, "user_id")
    is_new = F.col("event_date") == F.col("_first")
    # No DISTINCT aggregates (guide §2.2): ``activity`` is the DISTINCT
    # (user_id, event_date) pairs (1:1 joined to per-user cohorts), so
    # within one event_date group every user_id appears EXACTLY once —
    # COUNT(DISTINCT user) ≡ COUNT(*) and the conditional distincts
    # become conditional counts. This removes the 3-distinct-group
    # Expand (×4 row multiplication before the final aggregate).
    df = activity.groupBy(F.col("event_date").alias("activity_date")).agg(
        F.count(F.when(is_new, F.lit(1))).cast("bigint").alias("new_users"),
        F.count(F.when(~is_new, F.lit(1))).cast("bigint").alias(
            "returning_users"
        ),
        F.count(F.lit(1)).cast("bigint").alias("active_users"),
    ).withColumn(
        "returning_share_pct",
        _ratio(F.col("returning_users"), F.col("active_users"), 100.0),
    )
    return df.orderBy("activity_date")


def active_user_stickiness(
    silver: DataFrame, *, wau_days: int = 7, mau_days: int = 28
) -> DataFrame:
    """DAU / WAU / MAU + stickiness (DAU/MAU) per activity date — the
    engagement mart every product-analytics stack derives from events.

    Trailing distinct-count-over-range is not window-expressible
    (COUNT(DISTINCT) over a RANGE frame), so the plan is: collapse
    events to distinct (user, date) pairs FIRST (one shuffle — at scale
    this is orders of magnitude smaller than raw events), then
    range-join that activity table against the broadcast date spine
    (≤ ``mau_days``× amplification of the already-collapsed pairs) and
    take the three conditional distinct counts in ONE aggregate
    (Catalyst Expand handles the multi-distinct). No self-join of raw
    events, no per-date re-scan.
    """
    activity = silver.select("user_id", "event_date").distinct()
    dates = activity.select(F.col("event_date").alias("activity_date")).distinct()
    age = F.datediff(F.col("activity_date"), F.col("event_date"))
    j = activity.join(
        F.broadcast(dates), (age >= 0) & (age < F.lit(mau_days))
    )
    # Pre-collapse before the multi-distinct (guide §2.2): one user can
    # contribute up to ``mau_days`` joined rows per activity_date, and
    # the 3-distinct-group aggregate would Expand that ×4 again. Collapse
    # to ONE row per (activity_date, user) carrying min(age) first — a
    # map-side-combinable aggregate over the range-join output — then
    # the distinct counts become plain conditional counts over unique
    # users: dau ⇔ min_age = 0 (some row had age 0), wau ⇔ min_age <
    # wau_days, mau = row count. Exact: age ≥ 0 by the join condition,
    # so min(age) witnesses membership in each trailing window.
    per_user = j.groupBy("activity_date", "user_id").agg(
        F.min(age).alias("_min_age")
    )
    df = per_user.groupBy("activity_date").agg(
        F.count(F.when(F.col("_min_age") == 0, F.lit(1)))
        .cast("bigint")
        .alias("dau"),
        F.count(F.when(F.col("_min_age") < wau_days, F.lit(1)))
        .cast("bigint")
        .alias("wau"),
        F.count(F.lit(1)).cast("bigint").alias("mau"),
    ).withColumn("stickiness_pct", _ratio(F.col("dau"), F.col("mau"), 100.0))
    return df.orderBy("activity_date")
