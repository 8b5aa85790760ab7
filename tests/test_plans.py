"""Physical-plan shape assertions: the 100 TB design claims (pushdown,
column pruning, broadcast joins, bounded shuffles, top-k rewrite) hold
in the plans Catalyst actually produces, not just in docstrings."""

from __future__ import annotations

import sys
from pathlib import Path

from pyspark.sql import functions as F

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

import __spark_entry__ as entry  # noqa: E402
from data_lakehouse_spark.operators.silver import silver_events  # noqa: E402
from data_lakehouse_spark.sources.readers import load_tables  # noqa: E402


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_pricing_summary_prunes_and_pushes_down(spark, sf_dir):
    df = entry.q_tpch_pricing_summary(spark, sf_dir)
    plan = _plan(df)
    # column pruning: the 16-column lineitem scan reads only what Q1 needs
    scan = next(l for l in plan.splitlines() if "FileScan" in l)
    assert "l_comment" not in scan and "l_suppkey" not in scan
    # predicate pushdown reaches the parquet reader
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in plan


def test_top_customers_broadcasts_dims(spark, sf_dir):
    plan = _plan(entry.q_top_customers(spark, sf_dir))
    assert plan.count("BroadcastHashJoin") == 2  # customer + nation
    assert "SortMergeJoin" not in plan


def test_top_k_plans_take_ordered(spark, sf_dir):
    plan = _plan(entry.q_top_customers(spark, sf_dir))
    assert "TakeOrderedAndProject" in plan  # no global sort for LIMIT k


def test_silver_dedup_is_single_shuffle(spark, sf_dir):
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    events = spark.read.parquet(f"{sf_dir}/events.parquet")
    plan = _plan(silver_events(events))
    # one hash-partition exchange for the dedup window, nothing else
    assert plan.count("Exchange hashpartitioning") == 1
    assert plan.count("Exchange rangepartitioning") == 0


def test_gold_agg_has_partial_aggregation(spark, sf_dir):
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    events = spark.read.parquet(f"{sf_dir}/events.parquet")
    from data_lakehouse_spark.operators import gold

    plan = _plan(gold.hourly_traffic(silver_events(events), cart_type="click"))
    # map-side partial agg before the exchange (partial_ or merge_ phase)
    assert "partial_" in plan or "merge_" in plan


def test_semi_anti_join_operators(spark, sf_dir):
    plan = _plan(entry.q_customers_without_orders(spark, sf_dir))
    assert "LeftAnti" in plan
    plan = _plan(entry.q_priority_with_returns(spark, sf_dir))
    assert "LeftSemi" in plan


def test_ann_index_partition_pruned_read(spark, sf_dir, tmp_path):
    """The materialized ANN index is read partition-pruned: the probe
    filter lands in PartitionFilters (planning-time pruning, not
    row-level filtering) and only probed ivf_bucket= files produce
    rows — a strict subset of the table's files."""
    from data_lakehouse_spark.catalog import Catalog
    from data_lakehouse_spark.operators import similarity

    cat = Catalog(spark, str(tmp_path / "idx"))
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    similarity.build_embedding_index(cat, emb, "emb_ivf", num_planes=4, seed=7)
    qv = [float(x) for x in emb.first()["embedding"]]
    res = similarity.ann_ivf_topk_indexed(cat, "emb_ivf", qv, k=5)
    assert res.count() == 5

    plan = _plan(res)
    scan = plan[plan.index("PartitionFilters"):]
    assert "ivf_bucket" in scan[: scan.index("]")]

    total_files = {f for f in cat.read("emb_ivf").inputFiles()}
    probed = cat.read("emb_ivf").filter(
        F.col("ivf_bucket").isin(
            *similarity._probe_signatures(qv, 4, 7, 1)
        )
    )
    probed_files = {
        r[0]
        for r in probed.select(F.input_file_name()).distinct().collect()
    }
    assert probed_files and probed_files < total_files


def test_bucketed_join_is_shuffle_free(spark, sf_dir, tmp_path):
    """Both sides bucketed on the join key with equal bucket counts →
    SortMergeJoin with ZERO exchanges: the write-time shuffle is reused
    by every subsequent join on that key (the co-located-join story)."""
    from data_lakehouse_spark.sources.writers import write_bucketed

    t = load_tables(spark, sf_dir, ["orders", "lineitem"], register_views=False)
    spark.sql("DROP TABLE IF EXISTS b_orders")
    spark.sql("DROP TABLE IF EXISTS b_lineitem")
    try:
        write_bucketed(
            t["orders"].select("o_orderkey", "o_totalprice"),
            "b_orders", ["o_orderkey"], 4,
        )
        write_bucketed(
            t["lineitem"]
            .select(F.col("l_orderkey").alias("o_orderkey"), "l_quantity"),
            "b_lineitem", ["o_orderkey"], 4,
        )
        # disable broadcast so the join would otherwise need exchanges
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        joined = (
            spark.table("b_orders")
            .join(spark.table("b_lineitem"), "o_orderkey")
            .groupBy("o_orderkey")
            .agg(F.sum("l_quantity").alias("qty"))
        )
        plan = _plan(joined)
        assert "SortMergeJoin" in plan
        # bucket co-location: nothing below the join (scans included)
        # shuffles, and the same-key aggregate above it doesn't either —
        # the whole plan is exchange-free
        assert "Exchange" not in plan
        assert joined.count() > 0
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
        spark.sql("DROP TABLE IF EXISTS b_orders")
        spark.sql("DROP TABLE IF EXISTS b_lineitem")


def test_materialized_marts_partition_pruned(spark, sf_dir, tmp_path):
    """The 100 TB serving story: silver and the date-grained gold marts
    materialize date-partitioned through the catalog, and a date-filtered
    read prunes at planning time — the filter lands in PartitionFilters
    and only that day's files are touched (strict subset)."""
    from data_lakehouse_spark.catalog import Catalog
    from data_lakehouse_spark.pipeline import MedallionPipeline

    cat = Catalog(spark, str(tmp_path / "wh"))
    pipe = MedallionPipeline(spark, cat, cart_type="cart")
    pipe.ingest_bronze(spark.read.parquet(f"{sf_dir}/events.parquet"), "events.parquet")
    pipe.build_silver()
    pipe.build_gold(only=["gold_daily_sales_summary"])

    for table, date_col in [
        ("silver_events", "event_date"),
        ("gold_daily_sales_summary", "sale_date"),
    ]:
        full = cat.read(table)
        one_day = full.agg(F.min(date_col)).first()[0]
        pruned = full.filter(F.col(date_col) == F.lit(one_day))
        plan = _plan(pruned)
        pf = plan[plan.index("PartitionFilters"):]
        assert date_col in pf[: pf.index("]")], table
        all_files = set(full.inputFiles())
        probed_files = {
            r[0]
            for r in pruned.select(F.input_file_name()).distinct().collect()
        }
        assert probed_files and probed_files < all_files, table


def test_incremental_gold_rebuild_prunes_silver_partitions(spark, sf_dir, tmp_path):
    """Incremental gold semantics (and the fix for the reference's
    quirk #1, the CTE that forgot its watermark): filtering the MART
    output on its date key pushes through the aggregation to EVERY
    input branch, partition-pruning the materialized silver scan — the
    watermark cannot be 'forgotten' in one CTE because Catalyst applies
    it to all of them."""
    from data_lakehouse_spark.catalog import Catalog
    from data_lakehouse_spark.operators import gold
    from data_lakehouse_spark.pipeline import MedallionPipeline

    cat = Catalog(spark, str(tmp_path / "wh"))
    pipe = MedallionPipeline(spark, cat, cart_type="cart")
    pipe.ingest_bronze(spark.read.parquet(f"{sf_dir}/events.parquet"), "e.parquet")
    pipe.build_silver()

    silver = cat.read("silver_events")
    wm = silver.agg(F.min("event_date")).first()[0]  # pretend all-but-day-1 is new
    mart = gold.daily_sales_summary(silver, cart_type="cart").filter(
        F.col("sale_date") > F.lit(wm)
    )
    plan = _plan(mart)
    pf = plan[plan.index("PartitionFilters"):]
    assert "event_date" in pf[: pf.index("]")]
    probed = {
        r[0]
        for r in silver.filter(F.col("event_date") > F.lit(wm))
        .select(F.input_file_name())
        .distinct()
        .collect()
    }
    assert probed and probed < set(silver.inputFiles())


def test_silver_dedup_on_write_enforces_across_batches(spark, tmp_path):
    """ADVICE pipeline.py: an event_unique_id re-sent in a later batch
    must not land twice when dedup_on_write is on."""
    import datetime as dt

    from data_lakehouse_spark.catalog import Catalog
    from data_lakehouse_spark.pipeline import MedallionPipeline

    schema = (
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string"
    )
    row = (1, dt.datetime(2024, 1, 1, 10), 1, "purchase", 10.0, '{"k": 1}')
    cat = Catalog(spark, str(tmp_path / "wh"))
    pipe = MedallionPipeline(spark, cat)
    pipe.ingest_bronze(spark.createDataFrame([row], schema), "b1.parquet")
    pipe.build_silver()
    # same logical event arrives again in a later bronze batch
    pipe.ingest_bronze(spark.createDataFrame([row], schema), "b2.parquet")
    pipe.build_silver(dedup_on_write=True)
    assert cat.read("silver_events").count() == 1
    # without the flag the reference's inert unique_key quirk reproduces
    pipe.ingest_bronze(spark.createDataFrame([row], schema), "b3.parquet")
    pipe.build_silver()
    assert cat.read("silver_events").count() == 2


def test_blocked_cosine_pairs_match_broadcast(spark, sf_dir):
    """The distributed block GEMM returns the same pair set as the
    collect-broadcast exact engine (same arithmetic, no driver state)."""
    from data_lakehouse_spark.operators import similarity

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    a = similarity.cosine_pairs(emb, threshold=0.35)
    b = similarity.cosine_pairs_blocked(emb, threshold=0.35, num_blocks=5)
    pa = {(r.id_a, r.id_b, round(r.cosine_sim, 9)) for r in a.collect()}
    pb = {(r.id_a, r.id_b, round(r.cosine_sim, 9)) for r in b.collect()}
    assert pa == pb
    # and the blocked plan never collects: it is a single-stage
    # applyInPandas over the block-pair shuffle
    assert "FlatMapGroupsInPandas" in _plan(b)


def test_watermark_folds_to_literal_filter(spark, sf_dir):
    """The incremental watermark is reduced driver-side and lands in the
    scan as a comparable literal (min/max skipping applies)."""
    from data_lakehouse_spark.operators import relational

    orders = load_tables(spark, sf_dir, ["orders"], register_views=False)["orders"]
    wm_src = orders.filter(F.col("o_orderstatus") == "P")
    fresh = relational.watermark_filter(
        orders, wm_src, "o_orderdate", F.col("o_orderdate")
    )
    plan = _plan(fresh)
    assert "PushedFilters: [IsNotNull(o_orderdate), GreaterThan(o_orderdate" in plan


def test_runtime_bloom_filter_injected_on_shuffle_join(spark, sf_dir):
    """When neither join side broadcasts, Spark's runtime row-level
    filtering injects a bloom filter built from the selective (filtered)
    orders side into the lineitem scan side — rows that cannot match are
    dropped BEFORE the shuffle. At 100 TB this is the difference between
    shuffling the whole fact table and shuffling the ~1% that can join;
    locally the size thresholds are lowered to make injection visible."""
    t = load_tables(spark, sf_dir, ["orders", "lineitem"], register_views=False)
    overrides = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "100MB",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
    }
    saved = {k: spark.conf.get(k, None) for k in overrides}
    try:
        for k, v in overrides.items():
            spark.conf.set(k, v)
        joined = (
            t["lineitem"]
            .join(
                t["orders"].filter(F.col("o_orderpriority") == "1-URGENT"),
                F.col("l_orderkey") == F.col("o_orderkey"),
            )
            .groupBy("o_orderdate")
            .agg(F.sum("l_quantity").alias("qty"))
        )
        plan = joined._jdf.queryExecution().optimizedPlan().toString()
        assert "might_contain" in plan and "bloom_filter_agg" in plan
        assert joined.count() > 0  # filter is a pre-filter, not a wrong answer
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_tpch_q3_q5_broadcast_dims_and_pushdown(spark, sf_dir):
    """The multi-join TPC-H battery keeps dims broadcast and pushes
    every selective filter into the scans — no dim ever shuffles."""
    plan = _plan(entry.q_tpch_q3_shipping_priority(spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "EqualTo(c_mktsegment,BUILDING)" in plan
    assert "GreaterThan(l_shipdate" in plan and "LessThan(o_orderdate" in plan

    plan = _plan(entry.q_tpch_q5_local_supplier_volume(spark, sf_dir))
    assert plan.count("BroadcastHashJoin") >= 3  # supplier/customer/nation-region
    assert "EqualTo(r_name,ASIA)" in plan
    assert "GreaterThanOrEqual(o_orderdate" in plan
    # column pruning on the widest table
    scan = next(l for l in plan.splitlines() if "FileScan" in l and "lineitem" in l)
    assert "l_returnflag" not in scan and "l_tax" not in scan


def test_bm25_no_explode_single_stats_broadcast(spark, sf_dir):
    """BM25's plan claims: no Generate (the fixed term set never
    explodes postings), the corpus-stats side reaches the scoring scan
    as a broadcast, and the top-k is a TakeOrderedAndProject — the
    shape that keeps retrieval one stats pass + one scoring pass."""
    plan = _plan(entry.q_doc_bm25_search(spark, sf_dir))
    assert "Generate" not in plan          # no explode anywhere
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan
    assert "TakeOrderedAndProject" in plan
    assert "SortMergeJoin" not in plan


def test_gapfill_spine_never_shuffles_full_table(spark, sf_dir):
    """The calendar-spine join operates on two post-aggregate inputs:
    the orders table is consumed only by aggregations (no raw-row
    exchange of the fact table for the join)."""
    plan = _plan(entry.q_orders_daily_gapfill(spark, sf_dir))
    # both sides are pre-aggregated: partial aggregation present,
    # and the join is between agg outputs (broadcast or tiny shuffle)
    assert "partial_" in plan or "merge_" in plan
    # the fact scan feeds HashAggregate, never a Join directly
    scan_lines = [l for l in plan.splitlines() if "FileScan" in l]
    assert len(scan_lines) == 2  # min/max spine scan + daily agg scan
    for l in scan_lines:  # pruned to the two needed columns
        assert "o_custkey" not in l and "o_orderpriority" not in l


def test_q17_decorrelates_to_single_partkey_shuffle(spark, sf_dir):
    """The correlated per-part average must become ONE aggregation +
    join on l_partkey — no nested-loop re-execution."""
    plan = _plan(entry.q_tpch_q17_small_qty_revenue(spark, sf_dir))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    # the probe join and the per-part agg share the l_partkey key
    assert plan.count("Exchange hashpartitioning(l_partkey") <= 2


def test_last_touch_single_user_shuffle(spark, sf_dir):
    """Attribution is one window pass: the user-clustered silver path
    shares ONE user_id exchange between the dedup window and the
    attribution window, and there is no join."""
    plan = _plan(entry.q_purchase_last_touch(spark, sf_dir))
    assert "Join" not in plan  # window-only, no self-join fallback
    # one shared exchange serving dedup + attribution windows
    assert plan.count("Exchange hashpartitioning") == 1
    assert "hashpartitioning(user_id" in plan


def test_jaccard_verify_prunes_corpus_to_candidates(spark, sf_dir):
    """ngram_jaccard_pairs computes shingles only for docs surviving
    the candidate semi-join — the corpus scan must feed a semi join
    BEFORE any shingle transform evaluates."""
    from data_lakehouse_spark.operators import dedup

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    cands = spark.createDataFrame(
        [(0, 1), (2, 3)], "id_a long, id_b long"
    )
    plan = _plan(dedup.ngram_jaccard_pairs(docs, cands, threshold=0.0))
    assert "LeftSemi" in plan


def test_incremental_neardup_probe_broadcasts_batch(spark, sf_dir, tmp_path):
    """The incremental near-dup batch probe must broadcast the
    batch-side signatures/buckets and stream the index — the index is
    scanned, never shuffled (no Exchange hashpartitioning feeding a
    SortMergeJoin on the index side)."""
    from data_lakehouse_spark.catalog import Catalog
    from data_lakehouse_spark.plans.incremental_dedup import (
        IncrementalNearDupIndex,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    cat = Catalog(spark, str(tmp_path / "wh"))
    idx = IncrementalNearDupIndex(cat, "sigs")
    idx.build(docs.filter(F.col("doc_id") % 5 != 0))

    new = docs.filter(F.col("doc_id") % 5 == 0)
    new_sigs = idx._sign(new, "text", "doc_id").localCheckpoint()
    indexed = cat.read("sigs").select("doc_id", "band", "band_sig")
    universe = indexed.unionByName(new_sigs)
    probe_buckets = new_sigs.select("band", "band_sig").distinct()
    hits = universe.join(
        F.broadcast(probe_buckets), ["band", "band_sig"], "leftsemi"
    )
    plan = _plan(hits)
    assert "BroadcastHashJoin" in plan and "LeftSemi" in plan
    assert "SortMergeJoin" not in plan


def test_tpch_q4_exists_decorrelates_to_semi_join(spark, sf_dir):
    """Q4's correlated EXISTS compiles to one LEFT SEMI join on the
    equi key with the shipping-lag predicate as the join residual —
    no subquery re-execution, no cartesian."""
    plan = _plan(entry.q_tpch_q4_late_shipment(spark, sf_dir))
    assert "LeftSemi" in plan
    assert "NestedLoop" not in plan
    # the date-range filter pushes to the orders scan
    assert "GreaterThanOrEqual(o_orderdate" in plan


def test_tpch_q21_aggregate_form_no_self_joins(spark, sf_dir):
    """Q21's EXISTS + NOT EXISTS pair decorrelates to the AGGREGATE
    form: one per-(orderkey, suppkey) max-shipdate aggregate + an
    order-stats window — NO lineitem self semi/anti joins (the shape
    whose sides flip from broadcast to sort-merge across a scale step),
    no nested loop, and the window partitions by l_orderkey (never a
    global window)."""
    plan = _plan(entry.q_tpch_q21_waiting_suppliers(spark, sf_dir))
    assert "LeftSemi" not in plan and "LeftAnti" not in plan
    assert "NestedLoop" not in plan
    assert "CartesianProduct" not in plan
    assert "Window" in plan and "SinglePartition" not in plan


def test_tpch_q21_null_shipdate_parity_with_exists_form(spark):
    """The aggregate rewrite must keep the EXISTS/NOT-EXISTS NULL
    semantics bit-for-bit: `l3_shipdate > NULL` never matches, so the
    anti-join KEEPS NULL-shipdate rows. Pin the aggregate form against
    the literal self-join formulation on a fixture exercising every
    NULL shape (mixed null/non-null supplier, all-null supplier,
    all-null order, unique and tied maxima)."""
    import datetime as dt

    from data_lakehouse_spark.operators import tpch

    d = lambda s: dt.date.fromisoformat(s)  # noqa: E731
    rows = [
        # (orderkey, suppkey, shipdate)
        (1, 10, d("2024-01-05")),  # unique max holder
        (1, 11, d("2024-01-03")),
        (1, 11, None),             # NULL row of a non-max supplier
        (2, 10, d("2024-02-01")),  # tied max
        (2, 11, d("2024-02-01")),
        (3, 10, None),             # all-NULL order, two suppliers
        (3, 11, None),
        (4, 12, d("2024-03-01")),  # single-supplier order (semi fails)
        (5, 10, d("2024-04-02")),
        (5, 11, None),             # all-NULL supplier on a dated order
    ]
    spark_df = spark.createDataFrame(
        rows, "l_orderkey long, l_suppkey long, l_shipdate date"
    )
    orders = spark.createDataFrame(
        [(k, "F") for k in (1, 2, 3, 4, 5)],
        "o_orderkey long, o_orderstatus string",
    )
    supplier = spark.createDataFrame(
        [(10, "s10"), (11, "s11"), (12, "s12")],
        "s_suppkey long, s_name string",
    )

    from pyspark.sql import functions as F

    # literal EXISTS/NOT-EXISTS formulation (the semantics oracle)
    f_orders = orders.filter(F.col("o_orderstatus") == "F").select("o_orderkey")
    l1 = spark_df.join(
        f_orders, F.col("l_orderkey") == F.col("o_orderkey")
    ).drop("o_orderkey")
    l2 = spark_df.select(
        F.col("l_orderkey").alias("k2"), F.col("l_suppkey").alias("s2")
    )
    l3 = spark_df.select(
        F.col("l_orderkey").alias("k3"),
        F.col("l_suppkey").alias("s3"),
        F.col("l_shipdate").alias("d3"),
    )
    want = (
        l1.join(
            l2,
            (F.col("l_orderkey") == F.col("k2"))
            & (F.col("l_suppkey") != F.col("s2")),
            "left_semi",
        )
        .join(
            l3,
            (F.col("l_orderkey") == F.col("k3"))
            & (F.col("l_suppkey") != F.col("s3"))
            & (F.col("d3") > F.col("l_shipdate")),
            "left_anti",
        )
        .join(supplier, F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy("s_name")
        .agg(F.count("*").alias("numwait"))
    )
    got = tpch.q21_waiting_suppliers(supplier, spark_df, orders)
    assert sorted((r["s_name"], r["numwait"]) for r in got.collect()) == sorted(
        (r["s_name"], r["numwait"]) for r in want.collect()
    )


def test_tpch_q19_disjunction_prunes_part_and_pushes_common_conjuncts(
    spark, sf_dir
):
    """Q19: the brand/size disjunction filters the broadcast part side;
    the quantity/returnflag conjuncts common to all branches push into
    the lineitem scan instead of evaluating post-join."""
    plan = _plan(entry.q_tpch_q19_discounted_revenue(spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    # common conjuncts reach the lineitem parquet reader (the full
    # PushedFilters list is string-truncated, so check the stable prefix)
    li_scan = next(
        l for l in plan.splitlines() if "FileScan" in l and "lineitem" in l
    )
    assert "GreaterThanOrEqual(l_quantity,1" in li_scan
    assert "IsNotNull(l_returnflag)" in li_scan
    # column pruning: only the 5 needed lineitem columns are read
    assert "l_shipdate" not in li_scan and "l_tax" not in li_scan
    # the OR'd brand/size disjunction evaluates on the (tiny) part scan
    part_scan = next(
        l
        for l in plan.splitlines()
        if "FileScan" in l and "/part.parquet" in l
    )
    assert "p_partkey" in part_scan


def test_tpch_q15_scalar_max_is_broadcast_not_window(spark, sf_dir):
    """Q15's MAX(total_revenue) folds to a 1-row broadcast join — never
    an unpartitioned window over the revenue view."""
    plan = _plan(entry.q_tpch_q15_top_supplier(spark, sf_dir))
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan
    assert "Window" not in plan


def test_tpch_q13_left_join_preserves_every_customer(spark, sf_dir):
    """Q13 must LEFT-join with the priority filter on the build side
    (not WHERE), so the histogram partitions ALL customers — the
    bucket counts sum to |customer| exactly."""
    df = entry.q_tpch_q13_customer_distribution(spark, sf_dir)
    total = sum(r["custdist"] for r in df.collect())
    n_customers = spark.read.parquet(f"{sf_dir}/customer.parquet").count()
    assert total == n_customers


def test_tpch_q2_correlated_min_single_scan_partitioned_window(spark, sf_dir):
    """Q2's correlated scalar-MIN becomes a window PARTITIONED BY
    p_partkey over the (part, supp) cost aggregate: lineitem is scanned
    ONCE, dims broadcast, and the window is never unpartitioned (a min
    re-aggregate branch would collapse to a second scan)."""
    plan = _plan(entry.q_tpch_q2_min_cost_supplier(spark, sf_dir))
    assert plan.count("/lineitem.parquet") == 1
    assert "BroadcastHashJoin" in plan
    assert "Window" in plan
    assert "hashpartitioning(p_partkey" in plan
    assert "NestedLoop" not in plan and "CartesianProduct" not in plan


def test_tpch_q11_fraction_of_total_broadcast_and_pruned(spark, sf_dir):
    """Q11's grand total folds to a one-row broadcast (no unpartitioned
    window). The diamond re-reads lineitem for the total branch — a
    documented trade (agg-over-agg collapses past exchange reuse) — so
    BOTH scans must stay pruned to the same four fact columns."""
    plan = _plan(entry.q_tpch_q11_important_parts(spark, sf_dir))
    assert "Window" not in plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    li_scans = [
        l for l in plan.splitlines() if "FileScan" in l and "lineitem" in l
    ]
    assert len(li_scans) == 2
    for scan in li_scans:
        assert "l_quantity" not in scan and "l_shipdate" not in scan


def test_tpch_q16_not_in_is_broadcast_anti_join(spark, sf_dir):
    """Q16's NOT IN (complained suppliers) compiles to a broadcast LEFT
    ANTI join against the tiny negative-balance supplier set."""
    plan = _plan(entry.q_tpch_q16_supplier_count(spark, sf_dir))
    assert "LeftAnti" in plan and "BroadcastHashJoin" in plan
    assert "NestedLoop" not in plan


def test_events_point_lookup_bloom_prunes_to_one_dir(spark, sf_dir):
    """The point-lookup read must touch exactly ONE of the 8
    hash-disjoint append dirs — dir-level bloom pruning (min/max can't
    help: every dir spans the id domain)."""
    from pyspark.sql import functions as F

    cat = entry.INDEXES["events_bloom"](spark, sf_dir)
    df = cat.read("events_bloom", prune_eq={"event_id": 424}).filter(
        F.col("event_id") == 424
    )
    files = df.inputFiles()
    assert files, "the needle's dir must survive"
    dirs = {f.split("/events_bloom/")[1].split("/")[0] for f in files}
    assert len(dirs) == 1, dirs
    rows = df.collect()
    assert len(rows) == 1 and rows[0]["event_id"] == 424
    # absent key: every dir pruned, zero files opened
    assert (
        cat.read("events_bloom", prune_eq={"event_id": 10**12}).inputFiles()
        == []
    )


def test_tpch_q20_nested_in_chain_is_semi_joins(spark, sf_dir):
    """Q20's IN-(IN-subquery) chain becomes two LEFT SEMI joins (part
    prefix filter into lineitem; heavy suppliers into supplier) with the
    ship-year filter pushed to the lineitem scan."""
    plan = _plan(entry.q_tpch_q20_heavy_shippers(spark, sf_dir))
    assert plan.count("LeftSemi") >= 2
    assert "NestedLoop" not in plan and "CartesianProduct" not in plan
    li_scan = next(
        l for l in plan.splitlines() if "FileScan" in l and "lineitem" in l
    )
    assert "GreaterThanOrEqual(l_shipdate" in li_scan


def test_dsir_plans_broadcast_lms_and_take_ordered(spark, sf_dir):
    """DSIR: both LM tables join broadcast (never SortMergeJoin against
    the corpus token stream) and the final top-k is TakeOrdered — no
    global sort materialized."""
    plan = _plan(entry.q_corpus_dsir_sample(spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "TakeOrderedAndProject" in plan


def test_temperature_sample_is_map_side_filter(spark, sf_dir):
    """Temperature sampling shuffles only the tiny per-source count
    aggregate; the document stream itself is filtered map-side after a
    broadcast join — no SortMergeJoin, no document-keyed Exchange."""
    plan = _plan(entry.q_corpus_temperature_sample(spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    # every Exchange in the plan belongs to the stratum-count aggregate
    # (hashpartitioning on source / single-row aggregates), never on
    # doc_id
    for line in plan.splitlines():
        if "Exchange hashpartitioning" in line:
            assert "doc_id" not in line
