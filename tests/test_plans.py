"""Plan-quality tests (SURVEY §4.3): assert the physical plans have the
shape we designed for — pushdown reaching the scan, column pruning,
broadcast dimension joins, TakeOrderedAndProject top-k, and single-shuffle
aggregations. A correct result from a bad plan is a scale bug."""

from __future__ import annotations

import io
import re
from contextlib import redirect_stdout

import pytest

from healthcare_aihw_etl_pipeline_spark.plans import REGISTRY


def plan_of(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def shuffle_count(plan: str) -> int:
    """Count shuffle exchanges (excluding broadcast exchanges). Formatted
    explain prints each node twice (tree + detail); count only the detail
    headers like `(5) Exchange`."""
    return len(re.findall(r"^\(\d+\) Exchange\b", plan, re.MULTILINE))


def fresh_plan(spark, sf_dir, name: str) -> str:
    """Formatted plan of a FRESH, never-executed construction.

    Plan-shape assertions must bypass the registry's prepared-plan
    cache: once another test EXECUTES a cached DataFrame, explain on
    that same instance renders the AQE FINAL plan (ResultQueryStage,
    per-stage exchange rendering) and shuffle counts shift — the shape
    under test is the pre-execution plan every fresh run gets."""
    q = REGISTRY[name]
    return plan_of((q.build or q.fn)(spark, sf_dir))


@pytest.fixture(scope="module")
def plans(spark, sf_dir):
    return {
        name: fresh_plan(spark, sf_dir, name)
        for name in [
            "pricing_summary",
            "revenue_by_nation",
            "top10_brands_by_revenue",
            "filter_in_agg",
            "unpivot_lineitem_measures",
            "distinct_event_types",
        ]
    }


def test_filter_pushdown_reaches_scan(plans):
    p = plans["pricing_summary"]
    assert "PushedFilters" in p
    assert re.search(r"PushedFilters:.*LessThanOrEqual\(l_shipdate", p), p


def test_column_pruning(plans):
    p = plans["pricing_summary"]
    m = re.search(r"ReadSchema: struct<([^>]*)>", p)
    assert m, p
    cols = m.group(1)
    assert "l_partkey" not in cols and "l_comment" not in cols
    assert "l_quantity" in cols

    p2 = plans["distinct_event_types"]
    m2 = re.search(r"ReadSchema: struct<([^>]*)>", p2)
    assert m2 and m2.group(1).startswith("event_type"), p2


def test_dimension_joins_broadcast(plans):
    p = plans["revenue_by_nation"]
    assert "BroadcastHashJoin" in p
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p


def test_flagship_broadcast_form_zero_fact_shuffles(plans):
    """At bench scale the stats guard picks the snowflake
    double-broadcast form: the lineitem stream is consumed in ONE pass
    (orders AND customer maps broadcast into the scan, map-side combine
    at nation grain), so the only exchange anywhere carries the ≤25-row
    nation aggregate — no shuffle touches fact-grain rows."""
    p = plans["revenue_by_nation"]
    assert shuffle_count(p) <= 1, p
    assert "SortMergeJoin" not in p


def test_flagship_shj_tier_when_dims_exceed_snowflake_budget(
    spark, sf_dir, monkeypatch
):
    """Force the middle tier (dims past the broadcast-build budget,
    orders within the shuffled-hash bound): the fact and orders must
    exchange and join via ShuffledHashJoin (per-partition parallel
    builds — the round-10 A/B that took the sf1 wave wall down), with
    customer still a broadcast probe; results must match the
    double-broadcast form exactly. With customer past its budget too,
    the custkey-grain aggregate subtier appears instead."""
    from healthcare_aihw_etl_pipeline_spark.plans import reference_queries as rq

    dbl = rq._revenue_by_nation(spark, sf_dir)
    monkeypatch.setattr(rq, "_BCAST_SNOWFLAKE_MAX_ROWS", -1)
    shj = rq._revenue_by_nation(spark, sf_dir)
    p = plan_of(shj)
    assert "ShuffledHashJoin" in p, p
    assert "BroadcastHashJoin" in p  # customer + nation probes
    a = sorted((r.n_name, round(r.revenue, 4)) for r in dbl.collect())
    b = sorted((r.n_name, round(r.revenue, 4)) for r in shj.collect())
    assert a == b
    monkeypatch.setattr(rq, "_BCAST_CUSTOMER_MAX_ROWS", -1)
    shj_cust = rq._revenue_by_nation(spark, sf_dir)
    p2 = plan_of(shj_cust)
    assert "ShuffledHashJoin" in p2, p2
    c = sorted((r.n_name, round(r.revenue, 4)) for r in shj_cust.collect())
    assert a == c


def test_flagship_shuffle_form_when_orders_exceed_broadcast(spark, sf_dir, monkeypatch):
    """Force the stats guard down the scale path (orders 'too big' for
    every hash-build tier): the pre-aggregation spine must appear —
    revenue rolled up per l_orderkey BEFORE the orders join — and
    results must match the broadcast form exactly."""
    from healthcare_aihw_etl_pipeline_spark.plans import reference_queries as rq

    bcast = rq._revenue_by_nation(spark, sf_dir)
    monkeypatch.setattr(rq, "_BCAST_SNOWFLAKE_MAX_ROWS", -1)
    monkeypatch.setattr(rq, "_SHJ_ORDERS_MAX_ROWS", -1)
    shuf = rq._revenue_by_nation(spark, sf_dir)
    p = plan_of(shuf)
    # three exchanges: orderkey pre-agg, custkey re-agg, nationkey agg
    assert shuffle_count(p) >= 2
    a = sorted((r.n_name, round(r.revenue, 4)) for r in bcast.collect())
    b = sorted((r.n_name, round(r.revenue, 4)) for r in shuf.collect())
    assert a == b


def test_topk_is_take_ordered(plans):
    assert "TakeOrderedAndProject" in plans["top10_brands_by_revenue"]


def test_single_shuffle_aggregations(plans):
    # filter→groupBy: exactly one shuffle (partial agg before, final after)
    assert shuffle_count(plans["filter_in_agg"]) == 1
    # unpivot is a narrow Expand: still one shuffle total
    assert "Expand" in plans["unpivot_lineitem_measures"]
    assert shuffle_count(plans["unpivot_lineitem_measures"]) == 1


def test_partial_aggregation_present(plans):
    # map-side combine: two HashAggregate nodes around the exchange
    assert len(re.findall(r"HashAggregate", plans["filter_in_agg"])) >= 2


def test_bucketed_join_no_shuffle(spark, sf_dir, tmp_path):
    """Two tables bucketed on the join key join WITHOUT a shuffle
    exchange — the co-located-join layout that replaces the per-query
    shuffle with a one-time write-side partitioning at 100 TB."""
    wh = str(tmp_path / "warehouse")  # external table paths; the static
    # warehouse dir itself is untouched (session-immutable in Spark 4)
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    customer = spark.read.parquet(f"{sf_dir}/customer.parquet")
    (
        orders.write.mode("overwrite")
        .bucketBy(8, "o_custkey")
        .sortBy("o_custkey")
        .option("path", f"{wh}/orders_b")
        .saveAsTable("orders_b")
    )
    (
        customer.write.mode("overwrite")
        .bucketBy(8, "c_custkey")
        .sortBy("c_custkey")
        .option("path", f"{wh}/customer_b")
        .saveAsTable("customer_b")
    )
    try:
        # disable broadcast so the join would otherwise shuffle both sides
        with_conf = {"spark.sql.autoBroadcastJoinThreshold": "-1"}
        old = {k: spark.conf.get(k, None) for k in with_conf}
        for k, v in with_conf.items():
            spark.conf.set(k, v)
        try:
            j = (
                spark.table("orders_b")
                .join(
                    spark.table("customer_b"),
                    spark.table("orders_b")["o_custkey"]
                    == spark.table("customer_b")["c_custkey"],
                )
                .groupBy("c_mktsegment")
                .agg({"o_totalprice": "sum"})
            )
            plan = plan_of(j)
            sortmerge = "SortMergeJoin" in plan
            # the JOIN itself must be exchange-free: only the final
            # groupBy (on a different key) may shuffle.
            assert sortmerge
            assert shuffle_count(plan) <= 1, plan
            assert j.count() > 0
        finally:
            for k, v in old.items():
                if v is not None:
                    spark.conf.set(k, v)
    finally:
        spark.sql("DROP TABLE IF EXISTS orders_b")
        spark.sql("DROP TABLE IF EXISTS customer_b")


def test_aqe_splits_skewed_join(spark):
    """A 90%-hot join key must trigger AQE's skew-join split — the plan
    executed under adaptive execution shows SortMergeJoin(skew=true).
    This is the runtime answer to skewed fact keys at 100 TB (the
    static-plan alternative is manual salting, operators.relational.
    salted_agg)."""
    from pyspark.sql import functions as F

    tuned = {
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "100KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "100KB",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    old = {k: spark.conf.get(k, None) for k in tuned}
    for k, v in tuned.items():
        spark.conf.set(k, v)
    try:
        left = spark.range(0, 2_000_000, 1, 16).select(
            F.when(F.col("id") % 10 < 9, F.lit(0))
            .otherwise(F.col("id") % 1000)
            .alias("k"),
            F.col("id").alias("v"),
        )
        right = spark.range(0, 1000).select(
            F.col("id").alias("k"), (F.col("id") * 2).alias("w")
        )
        j = left.join(right, "k").groupBy().agg(F.sum("w").alias("s"))
        j.collect()  # adaptive re-plan happens at runtime
        assert "skew=true" in plan_of(j)
    finally:
        for k, v in old.items():
            if v is not None:
                spark.conf.set(k, v)
            else:
                spark.conf.unset(k)


def test_round2_query_plan_shapes(spark, sf_dir):
    """Shuffle budgets for the round-2 composite queries: the interval
    join is ONE shuffle (equi-join on user_id, time range as join
    filter); embedding near-dup is one shuffle into the banded self-join
    plus TakeOrderedAndProject on top; contamination stays within its
    designed groupBy + join-back + final-agg budget; TF-IDF ends in
    TakeOrderedAndProject with map-side partial aggregation."""
    shapes = {
        "purchase_click_window": lambda p: shuffle_count(p) == 1,
        "embedding_near_dup_top20": lambda p: shuffle_count(p) == 1
        and "TakeOrderedAndProject" in p,
        "split_contamination": lambda p: shuffle_count(p) <= 3
        and "CartesianProduct" not in p,
        "tfidf_top20": lambda p: "TakeOrderedAndProject" in p
        and len(re.findall(r"HashAggregate", p)) >= 4,
    }
    for name, ok in shapes.items():
        p = fresh_plan(spark, sf_dir, name)
        assert ok(p), f"{name} plan shape regressed:\n{p}"


def test_round3_query_plan_shapes(spark, sf_dir):
    """Round-3 shapes: the Q17-style correlated-aggregate filter builds
    the join on the REDUCED per-part side (one shuffle for the aggregate,
    the fact is never shuffled for the join at this scale — broadcast);
    the Q14 share joins part broadcast and aggregates in one shuffle; the
    ordinal-explode profile aggregates the exploded stream immediately
    (partial aggregate BELOW the single shuffle — the blow-up never
    crosses the wire); the entropy query stays within its two designed
    shuffles plus the tiny join; no plan contains a cartesian product."""
    shapes = {
        # per-part agg exchange + the global one-row agg; join is BHJ on
        # the reduced side, so the fact never shuffles for the join.
        "small_quantity_part_revenue": lambda p: shuffle_count(p) == 2
        and "BroadcastHashJoin" in p,
        # group-agg exchange + final sort exchange; part joins broadcast.
        "promo_revenue_share": lambda p: shuffle_count(p) <= 3
        and "BroadcastHashJoin" in p,
        # exploded stream (Generate) must be partially aggregated before
        # its (single) group exchange; + the final sort exchange.
        "token_position_profile": lambda p: shuffle_count(p) <= 3
        and "Generate" in p
        and len(re.findall(r"HashAggregate", p)) >= 4,
        "source_token_entropy": lambda p: shuffle_count(p) <= 5
        and "Generate" in p,
        "pii_redaction_stats": lambda p: shuffle_count(p) <= 3,
    }
    for name, ok in shapes.items():
        p = fresh_plan(spark, sf_dir, name)
        assert ok(p), f"{name} plan shape regressed:\n{p}"
        assert "CartesianProduct" not in p, name


def test_q21_window_decorrelation_single_fact_shuffle(spark, sf_dir):
    """sole_problem_supplier must stay the window-decorrelated form: 2
    FileScans (fact + supplier) — a self-join would duplicate the whole
    fact subplan (3 scans, no exchange reuse, measured) — and exactly
    one fact-sized exchange (the explicit l_orderkey repartition) plus
    the candidate-set supplier rollup."""
    q = REGISTRY["sole_problem_supplier"]
    # fresh construction: executedPlan() on a cached instance another
    # test already ran would render the AQE FINAL plan (see fresh_plan)
    df = (q.build or q.fn)(spark, sf_dir)
    p = df._jdf.queryExecution().executedPlan().toString()
    assert p.count("FileScan") == 2, p
    keys = re.findall(r"Exchange hashpartitioning\((\w+)", p)
    assert sum(1 for k in keys if k.startswith("l_orderkey")) == 1, keys


def test_ranked_window_pushes_group_limit(spark, sf_dir):
    """Top-k-per-group must run as the two-phase shape: a map-side
    WindowGroupLimit (local top-k per task) BELOW the exchange, so the
    shuffle carries at most k rows per group per task instead of the
    whole fact — the difference between shuffling 3×P rows and 600B at
    100 TB. Spark's rank-limit pushdown provides it; this test pins it."""
    p = fresh_plan(spark, sf_dir, "top3_orders_per_priority")
    m = re.findall(r"^\(\d+\) (WindowGroupLimit|Exchange|Window)\b", p, re.MULTILINE)
    assert m.count("WindowGroupLimit") == 2, p  # partial (map-side) + final
    assert m.index("WindowGroupLimit") < m.index("Exchange"), p


def test_documents_scan_prunes_columns(spark, sf_dir):
    """Text-quality queries must not drag the whole documents row through
    the scan: ReadSchema stays at the referenced columns."""
    p = fresh_plan(spark, sf_dir, "gopher_quality_flags")
    rs = re.search(r"ReadSchema: struct<([^>]*)>", p)
    assert rs is not None, p
    cols = {c.split(":")[0] for c in rs.group(1).split(",") if c}
    assert cols == {"source", "text"}, cols


def test_new_tpch_shape_plans(spark, sf_dir):
    """Q13/Q18/Q2/Q22/Q11-shape plan budgets: facts aggregate BELOW
    joins (the dim probe sees the rollup, not the raw fact), window
    decorrelation shares one fact shuffle, threshold filters reach the
    scans, and the keep-best/OOV curation ops keep partial aggregation
    below their single group shuffle."""
    shapes = {
        # per-customer rollup exchange + histogram exchange; customer
        # joins the ROLLUP (broadcast at this scale), never raw orders.
        "customer_order_histogram": lambda p: shuffle_count(p) == 2,
        # HAVING-aggregate first (1 shuffle), dims probed by the
        # surviving keys, top-k compiles to TakeOrderedAndProject.
        "top_volume_orders": lambda p: shuffle_count(p) == 1
        and "TakeOrderedAndProject" in p,
        # window-min + tie-break rollup share ONE l_partkey exchange;
        # brand cut is pushed into the part scan and broadcast.
        "cheapest_supplier_per_part": lambda p: shuffle_count(p) == 1
        and re.search(r"PushedFilters:.*EqualTo\(p_brand,Brand#1\)", p) is not None,
        # date slice pushed to the orders scan; 1-row stats broadcast.
        "idle_rich_customers": lambda p: re.search(
            r"PushedFilters:.*GreaterThanOrEqual\(o_orderdate", p
        )
        is not None,
        # global total is a window over the PART rollup: the single-
        # partition exchange sits above the per-part aggregate.
        "important_parts_by_share": lambda p: shuffle_count(p) == 2,
        # argmax is an aggregate with a map-side partial (SortAggregate
        # pair around the exchange), NOT a per-cluster window.
        "dedup_keep_best": lambda p: shuffle_count(p) == 1
        and "Window" not in p,
        # vocab = TakeOrderedAndProject over the token rollup, then
        # broadcast into the test-split probe.
        "oov_rate_by_source": lambda p: "TakeOrderedAndProject" in p
        and "BroadcastHashJoin" in p
        and shuffle_count(p) == 2,
    }
    for name, ok in shapes.items():
        p = fresh_plan(spark, sf_dir, name)
        assert ok(p), f"{name} plan shape regressed:\n{p}"
        assert "CartesianProduct" not in p, name


def test_classic_tpch_shape_plans(spark, sf_dir):
    """Q3/Q7/Q10/Q19-shape plan budgets: date/segment/flag slices reach
    their scans, top-k compiles to TakeOrderedAndProject, and the Q19
    disjunction pushes its per-side residues into BOTH parquet scans."""
    shapes = {
        "shipping_priority_top10": lambda p: shuffle_count(p) == 1
        and "TakeOrderedAndProject" in p
        and re.search(r"PushedFilters:.*GreaterThan\(l_shipdate", p) is not None
        and re.search(r"PushedFilters:.*LessThan\(o_orderdate", p) is not None,
        "cross_nation_shipping": lambda p: shuffle_count(p) <= 3
        and len(re.findall(r"PushedFilters:.*In\(n_name", p)) == 2,
        "returned_item_top_customers": lambda p: shuffle_count(p) == 2
        and "TakeOrderedAndProject" in p
        and re.search(r"PushedFilters:.*EqualTo\(l_returnflag,R\)", p) is not None,
        # the Or tree must reach BOTH scans: quantity envelopes on
        # lineitem, brand/size envelopes on part.
        "disjunctive_brand_revenue": lambda p: shuffle_count(p) == 1
        and re.search(r"PushedFilters:.*Or\(And\(GreaterThanOrEqual\(l_quantity", p)
        is not None
        and re.search(r"PushedFilters:.*Or\(And\(EqualTo\(p_brand,Brand#1\)", p)
        is not None,
    }
    for name, ok in shapes.items():
        p = fresh_plan(spark, sf_dir, name)
        assert ok(p), f"{name} plan shape regressed:\n{p}"
        assert "CartesianProduct" not in p, name


def test_remaining_tpch_shape_plans(spark, sf_dir):
    """Q4/Q5/Q6/Q8/Q9/Q12/Q15/Q16/Q20-shape plan budgets — with these,
    all 22 TPC-H query shapes are pinned. The invariants are the ones
    that matter at 100 TB: range predicates reach the parquet scan
    (row-group pruning), EXISTS compiles to a semi-join (never a
    distinct-then-inner), scalar-subquery maxima run over rollups
    rather than fact rows, and no shape exceeds its shuffle budget."""
    shapes = {
        # Q6: only the single-partition combine exchange (carrying one
        # partial row per task); all three range cuts in PushedFilters.
        "forecast_discount_revenue": lambda p: shuffle_count(p) == 1
        and re.search(r"PushedFilters:.*GreaterThanOrEqual\(l_shipdate", p)
        and re.search(r"PushedFilters:.*GreaterThanOrEqual\(l_discount,0.05\)", p)
        and re.search(r"PushedFilters:.*LessThan\(l_quantity,24.0\)", p),
        # Q4: the correlated EXISTS is a LeftSemi with the 60-day
        # comparison as join residual, order-date slice pushed.
        "order_priority_check": lambda p: "LeftSemi" in p
        and re.search(r"PushedFilters:.*GreaterThanOrEqual\(o_orderdate", p),
        # Q5: two key-partitioned joins + the 5-nation agg (AQE shrinks
        # the join sides to broadcast at runtime); the region cut
        # reaches both dimension arms via broadcast.
        "local_supplier_volume": lambda p: shuffle_count(p) <= 4
        and len(re.findall(r"BroadcastExchange", p)) >= 2
        and len(re.findall(r"PushedFilters:.*EqualTo\(r_name,ASIA\)", p)) == 2,
        # Q12: ship-year slice pushed; single aggregation shuffle; both
        # CASE counts in one HashAggregate pass (no pivot/Expand).
        "late_shipment_priority_mix": lambda p: shuffle_count(p) <= 2
        and re.search(r"PushedFilters:.*GreaterThanOrEqual\(l_shipdate", p)
        and "Expand" not in p,
        # Q15: the window max runs AFTER the per-supplier HashAggregate
        # (over the rollup, not fact rows), and ties survive (no limit).
        "top_revenue_suppliers": lambda p: "Window" in p
        and "TakeOrderedAndProject" not in p.split("Window")[0]
        and re.search(r"PushedFilters:.*GreaterThanOrEqual\(l_shipdate", p),
        # Q16: part cuts pruned into the broadcast dim scan; the NOT-IN
        # exclusion is a broadcast anti-join, not a shuffled subquery.
        "supplier_variety_by_part_class": lambda p: "LeftAnti" in p
        and re.search(r"PushedFilters:.*Not\(EqualTo\(p_brand,Brand#5\)\)", p)
        and re.search(r"PushedFilters:.*LessThan\(s_acctbal,0.0\)", p),
        # Q20: part-name semi probe + supplier semi probe, one rollup
        # shuffle; the name LIKE is pushed as StringStartsWith.
        "concentrated_recent_suppliers": lambda p: p.count("LeftSemi") >= 2
        and re.search(r"PushedFilters:.*StringStartsWith\(p_name,small\)", p),
    }
    for name, ok in shapes.items():
        p = fresh_plan(spark, sf_dir, name)
        assert ok(p), f"{name} plan shape regressed:\n{p}"
        assert "CartesianProduct" not in p, name
    # Q8/Q9 share the Q7 budget: fact probed once, nation dims broadcast
    # (Q8 pays one extra pre-AQE exchange pair for the orders⋈customer
    # arm, like Q5).
    for name in ["nation_market_share", "product_type_profit"]:
        p = fresh_plan(spark, sf_dir, name)
        assert shuffle_count(p) <= 4, f"{name}:\n{p}"
        assert "CartesianProduct" not in p, name
        assert len(re.findall(r"BroadcastExchange", p)) >= 2, name


def test_curation_packing_plans(spark, sf_dir):
    """sequence_packing / domain_quota_sample: the stratum shuffle is
    SHARED by the window and the rollup (subset-clustering rule —
    HashPartitioning(source) satisfies the groupBy(source, pack_id)
    distribution), so the only other exchange is the final presentation
    sort's range partitioning."""
    for name in ["sequence_packing", "domain_quota_sample"]:
        p = fresh_plan(spark, sf_dir, name)
        assert shuffle_count(p) == 2, f"{name} lost exchange reuse:\n{p}"
        assert "Window" in p, name
        assert "CartesianProduct" not in p, name


def test_chunk_dedup_and_incremental_plans(spark, sf_dir):
    """chunk_dedup_reassembly: keep-first must be an AGGREGATE on the
    chunk hash (map-side partials — hot boilerplate chunks cannot pin a
    task), never a Window over the hash; incremental_dedup: one
    aggregation + one co-partitioned join back, no anti-join chain."""
    p = fresh_plan(spark, sf_dir, "chunk_dedup_reassembly")
    assert "Window" not in p, p
    assert "partial_min" in p or "HashAggregate" in p, p
    assert "CartesianProduct" not in p

    p2 = fresh_plan(spark, sf_dir, "incremental_dedup")
    assert "Window" not in p2, p2
    # base∪new flags and the probe join both hash on h: the join must be
    # an equi-join (SortMergeJoin or ShuffledHashJoin or Broadcast), and
    # there is exactly one scan family duplicated (documents read twice:
    # flag side + probe side) but no row-explosion joins.
    assert re.search(r"(SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin)", p2), p2


def test_mixture_and_centroid_plans(spark, sf_dir):
    """mixture_weights: the OVER () windows run on the source-level
    rollup (post-aggregation), so the plan has the fact aggregation
    below the window; embedding_centroid_per_label: the posexplode
    (Generate) must sit UNDER a hash aggregate with a partial phase —
    the exploded stream aggregates before any exchange."""
    p = fresh_plan(spark, sf_dir, "mixture_weights")
    agg_ids = [int(n) for n in re.findall(r"^\((\d+)\) HashAggregate", p, re.MULTILINE)]
    win_ids = [int(n) for n in re.findall(r"^\((\d+)\) Window", p, re.MULTILINE)]
    assert agg_ids and win_ids, p
    # higher node id = closer to the root: every window sits above the
    # fact aggregation (operates on the ~20-row rollup, not raw docs)
    assert min(win_ids) > max(agg_ids), (
        "window should apply to the aggregated rollup:\n" + p
    )

    p2 = fresh_plan(spark, sf_dir, "embedding_centroid_per_label")
    # Positional contract via node ids (detail blocks `(N) Node`; id 1 is
    # the plan bottom): Generate (posexplode) must feed a PARTIAL hash
    # aggregate BEFORE the first Exchange — the exploded stream is
    # reduced map-side, never shuffled at full width.
    parts = re.split(r"^\((\d+)\) ", p2, flags=re.MULTILINE)
    blocks = [
        (int(parts[i]), parts[i + 1]) for i in range(1, len(parts) - 1, 2)
    ]
    gen_ids = [i for i, b in blocks if b.startswith("Generate")]
    exch_ids = [i for i, b in blocks if b.startswith("Exchange")]
    partial_agg_ids = [
        i
        for i, b in blocks
        if b.startswith("HashAggregate") and re.search(r"partial_(count|sum)", b)
    ]
    assert gen_ids and exch_ids and partial_agg_ids, p2
    assert max(gen_ids) < min(partial_agg_ids) < min(exch_ids), (
        "partial aggregation must sit between Generate and the first Exchange:\n"
        + p2
    )


def test_events_typed_agg_no_parser_in_plan(spark, sf_dir):
    """The production twin of json_props_agg must carry NO JSON parser:
    the parse happened once at ingest, so the per-query plan is a plain
    columnar scan-aggregate over the typed column."""
    p = fresh_plan(spark, sf_dir, "events_typed_agg")
    assert "from_json" not in p and "get_json_object" not in p, p
    assert "HashAggregate" in p, p


def test_plan_cache_invalidate(spark, sf_dir):
    """The prepared-plan cache assumes immutable inputs; invalidate() is
    the hook a data-rewriting path (e.g. the _events_typed rebuild) must
    call so readers re-resolve the file listing."""
    from healthcare_aihw_etl_pipeline_spark.plans import registry as reg

    q = REGISTRY["filter_in_agg"]
    a = q.fn(spark, sf_dir)
    assert q.fn(spark, sf_dir) is a  # cache hit: same DataFrame object
    dropped = reg.invalidate(name="filter_in_agg", sf_dir=sf_dir)
    assert dropped == 1
    b = q.fn(spark, sf_dir)
    assert b is not a  # rebuilt after invalidation
    assert reg.invalidate(sf_dir="/nonexistent") == 0


def test_plan_cache_mtime_guard(spark, tmp_path, sf_dir):
    """The structural staleness guard: rewriting an input under sf_dir
    (or a watched external path) invalidates cached plans WITHOUT an
    explicit invalidate() call — the footgun the immutability contract
    used to leave open."""
    import os
    import shutil

    from healthcare_aihw_etl_pipeline_spark.plans import registry as reg

    d = str(tmp_path / "sf")
    shutil.copytree(sf_dir, d)
    q = REGISTRY["filter_in_agg"]
    a = q.fn(spark, d)
    assert q.fn(spark, d) is a  # steady state: cache hit
    # simulate a write-then-read: bump an input file's mtime
    os.utime(os.path.join(d, "lineitem.parquet"))
    b = q.fn(spark, d)
    assert b is not a  # guard caught the rewrite, plan rebuilt
    assert q.fn(spark, d) is b  # and re-settles

    # a derived root OUTSIDE sf_dir, registered via watch_path, feeds
    # the token the same way
    marker = str(tmp_path / "derived" / "_SUCCESS")
    reg.watch_path(d, marker)
    c = q.fn(spark, d)  # token changed shape (marker now tracked)
    os.makedirs(os.path.dirname(marker), exist_ok=True)
    with open(marker, "w"):
        pass
    e = q.fn(spark, d)
    assert e is not c  # marker creation invalidated the cached plan
    assert q.fn(spark, d) is e


def test_round4_query_plan_shapes(spark, sf_dir):
    """Round-4 additions: the EWMA self range join must compile to an
    EQUI join on the month bucket (never BroadcastNestedLoopJoin — the
    non-equi-only trap); the levenshtein blocking join likewise; the
    char-diversity explode must aggregate map-side before any exchange."""
    p = fresh_plan(spark, sf_dir, "ewma_daily_revenue")
    assert "NestedLoop" not in p and "CartesianProduct" not in p, p
    assert re.search(r"(SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin)", p), p

    p2 = fresh_plan(spark, sf_dir, "levenshtein_blocked_pairs")
    assert "NestedLoop" not in p2 and "CartesianProduct" not in p2, p2
    assert re.search(r"(SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin)", p2), p2

    p3 = fresh_plan(spark, sf_dir, "char_diversity_profile")
    parts = re.split(r"^\((\d+)\) ", p3, flags=re.MULTILINE)
    blocks = [(int(parts[i]), parts[i + 1]) for i in range(1, len(parts) - 1, 2)]
    gen_ids = [i for i, b in blocks if b.startswith("Generate")]
    exch_ids = [i for i, b in blocks if b.startswith("Exchange")]
    partial_ids = [
        i
        for i, b in blocks
        if b.startswith("HashAggregate") and "partial_count" in b
    ]
    assert gen_ids and exch_ids and partial_ids, p3
    assert max(gen_ids) < min(partial_ids) < min(exch_ids), p3


def test_round5_query_plan_shapes(spark, sf_dir):
    """Round-5 additions: the similarity/co-occurrence self-joins must
    compile to EQUI joins (the `a.key < b.key` conjunct is a post-join
    filter, never the join strategy); the histogram's bounds join must
    be a 1-row broadcast; the z-score's stats join must broadcast, not
    shuffle, the per-type stats."""
    for name in ("jaccard_pair_similarity", "part_pair_cooccurrence"):
        p = fresh_plan(spark, sf_dir, name)
        assert "CartesianProduct" not in p, (name, p)
        assert re.search(r"(SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin)", p), (name, p)

    # broadcast-scalar bounds: nested-loop over a 1-row aggregate is the
    # correct shape (a shuffle join on a scalar would be wrong)
    p = fresh_plan(spark, sf_dir, "value_histogram")
    assert "BroadcastNestedLoopJoin" in p or "BroadcastExchange" in p, p

    p = fresh_plan(spark, sf_dir, "event_volume_zscore")
    assert "BroadcastHashJoin" in p, p

    # n-gram census: explode feeds a partial aggregate before the exchange
    p = fresh_plan(spark, sf_dir, "duplicate_ngram_top20")
    assert "Generate" in p and "partial" in p, p


def test_dynamic_partition_pruning(spark, sf_dir, tmp_path):
    """Joining a hive-partitioned fact against a FILTERED dimension must
    inject a dynamic partition pruning subquery into the fact scan
    (PartitionFilters: dynamicpruning...) — at 100 TB this is what keeps
    a dim-filtered join from scanning every fact partition when the
    filter's partition set is only known at runtime."""
    from pyspark.sql import functions as F

    fact_dir = str(tmp_path / "events_part")
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    ev.write.partitionBy("event_type").mode("overwrite").parquet(fact_dir)
    fact = spark.read.parquet(fact_dir)
    dim = spark.createDataFrame(
        [("click", "engage"), ("view", "engage"), ("purchase", "convert"),
         ("signup", "convert"), ("error", "ops"), ("scroll", "engage")],
        ["event_type", "category"],
    )
    j = (
        fact.join(dim.where(F.col("category") == "convert"), "event_type")
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    p = plan_of(j)
    assert "dynamicpruning" in p.lower(), p
    got = {r.event_type for r in j.collect()}
    assert got == {"purchase", "signup"}


def test_round6_query_plan_shapes(spark, sf_dir):
    """Round-6 additions compile to the scale-safe shapes they claim:
    the moment profile is ONE scan with a map-side-combined global
    aggregate; batch sessionization shuffles user_id exactly once and
    both windows share that exchange; the revenue-share windows run over
    the 25-row rollup AFTER broadcast dim joins; NTILE deciles sort on a
    total order; no plan contains a cartesian product."""
    p = fresh_plan(spark, sf_dir, "numeric_profile_lineitem")
    assert shuffle_count(p) == 1, p  # single one-row exchange
    assert "partial_sum" in p or "HashAggregate" in p, p

    p = fresh_plan(spark, sf_dir, "event_session_stats")
    # one hash exchange on user_id + the final single-partition rollup;
    # the two window functions must NOT add a second user_id shuffle
    assert shuffle_count(p) <= 2, p
    assert p.count("Window") >= 2, p

    p = fresh_plan(spark, sf_dir, "nation_revenue_share")
    assert "BroadcastHashJoin" in p, p
    assert "CartesianProduct" not in p and "NestedLoop" not in p, p

    p = fresh_plan(spark, sf_dir, "lapsed_part_suppliers")
    assert "LeftAnti" in p, p
    assert "CartesianProduct" not in p and "NestedLoop" not in p, p

    p = fresh_plan(spark, sf_dir, "lineitem_correlation_matrix")
    assert shuffle_count(p) == 1, p  # shared moments: one scan, one agg

    p = fresh_plan(spark, sf_dir, "vocab_growth_curve")
    assert "CartesianProduct" not in p and "NestedLoop" not in p, p


def test_runtime_bloom_filter_on_selective_shuffle_join(spark, sf_dir):
    """When a join cannot broadcast (the 100 TB case — here forced by
    disabling auto-broadcast), Spark injects a runtime Bloom filter
    built from the SELECTIVE side into the fact scan, so most fact rows
    die before the shuffle. This pin proves the engine's shuffle joins
    get row-level semi-join reduction at scale; thresholds are lowered
    only because bench-scale tables sit under the defaults."""
    confs = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "1KB",
    }
    old = {k: spark.conf.get(k) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        od = spark.read.parquet(f"{sf_dir}/orders.parquet").where(
            "o_orderpriority = '1-URGENT' AND o_totalprice > 400000"
        )
        j = (
            li.join(od, li.l_orderkey == od.o_orderkey)
            .groupBy("o_orderpriority")
            .count()
        )
        p = plan_of(j)
        assert "bloom_filter_agg" in p, p
        assert "might_contain" in p, p  # the filter is APPLIED to the scan side
    finally:
        for k, v in old.items():
            spark.conf.set(k, v)


def test_round7_sketch_query_plan_shapes(spark, sf_dir):
    """The portable-sketch rewrites keep scale-safe shapes: the HLL
    register build is a map-side-combined hash aggregate (partial +
    final) with NO row-Python anywhere; the register path is pure
    expressions (whole-stage codegen); theta sketches are filtered
    distincts + hash joins — no cartesian between data-bearing sides
    (the 1-row estimate crossJoins are broadcast and harmless)."""
    p = fresh_plan(spark, sf_dir, "hll_rollup_distinct_users")
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p, p
    assert "HashAggregate" in p, p
    # register build must partially aggregate before the bucket shuffle
    # (AQE-wrapped formatted plans omit WholeStageCodegen markers until
    # execution, so codegen is covered by the expression-only lint).
    assert "partial_max" in p, p

    p = fresh_plan(spark, sf_dir, "theta_sketch_audience_overlap")
    assert "BatchEvalPython" not in p, p
    # audience intersection/difference are hash joins on the hash sets
    assert "HashJoin" in p, p

    p = fresh_plan(spark, sf_dir, "theta_retention_day7")
    assert "BatchEvalPython" not in p, p
    assert "HashJoin" in p, p

    p = fresh_plan(spark, sf_dir, "json_props_regexp_agg")
    assert "BatchEvalPython" not in p, p
    # the whole point: no JSON parser node, one scan, partial agg
    assert "JsonToStructs" not in p and "from_json" not in p, p
    assert shuffle_count(p) == 1, p


def scan_count(plan: str) -> int:
    """Count parquet scans by detail header (formatted explain prints
    each node in both the tree and the detail section)."""
    return len(re.findall(r"^\(\d+\) Scan parquet", plan, re.MULTILINE))


def test_round8_retrieval_and_sampling_plans(spark, sf_dir):
    """Round-8 plan pins. weighted_sample_orders: ONE scan + a
    TakeOrderedAndProject — per-partition top-k, zero shuffles, no
    global sort. bm25_search_top10: exactly TWO document scans
    (projection-only stats pass + pre-filtered term-frequency pass) —
    the doc_freq join-back was rewritten as a count() window, so a
    third scan must not reappear. inverted_index_top20: the
    partition-local two-level build — NO Window (the per-token
    row_number sort of every posting cost 4x at sf10), docs
    repartitioned round-robin, and the (partition, token)-grain
    exchange is the only post-explode shuffle."""
    p = fresh_plan(spark, sf_dir, "weighted_sample_orders")
    assert "TakeOrderedAndProject" in p, p
    assert shuffle_count(p) == 0, f"weighted sample must not shuffle:\n{p}"
    assert scan_count(p) == 1, p

    # bm25: ONE parquet scan (projection-only stats) + the checkpointed
    # row-local match slice (ExistingRDD) — the corpus-grain explode
    # (24.5 s at sf1) must never reappear (a Generate node would mean
    # the explode is back).
    p2 = fresh_plan(spark, sf_dir, "bm25_search_top10")
    assert scan_count(p2) == 1, f"bm25 regained a parquet scan:\n{p2}"
    assert "ExistingRDD" in p2, p2
    assert "Generate" not in p2, f"bm25 explode came back:\n{p2}"
    assert "TakeOrderedAndProject" in p2, p2
    assert "CartesianProduct" not in p2

    p3 = fresh_plan(spark, sf_dir, "inverted_index_top20")
    assert "Window" not in p3, f"posting-sort window came back:\n{p3}"
    assert "RoundRobinPartitioning" in p3, p3
    assert "TakeOrderedAndProject" in p3, p3
    assert scan_count(p3) == 1, p3


def test_round8_scd2_and_audit_plans(spark, sf_dir):
    """scd2_user_tier_history: both windows share ONE user_id shuffle
    (subset-clustering — the run-start filter preserves partitioning).
    scd2_temporal_join: the interval join must be an equi-join on
    user_id with the range predicate as a post-join filter — never a
    CartesianProduct/BroadcastNestedLoopJoin over facts.
    data_quality_audit: the five single-pass checks plus the
    count_distinct expansion may scan lineitem a bounded number of
    times but must never row-explode."""
    p = fresh_plan(spark, sf_dir, "scd2_user_tier_history")
    assert p.count("Window") >= 1, p
    assert shuffle_count(p) == 1, f"scd2 windows must share the shuffle:\n{p}"

    p2 = fresh_plan(spark, sf_dir, "scd2_temporal_join")
    assert re.search(r"(SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin)", p2), p2
    assert "CartesianProduct" not in p2

    p3 = fresh_plan(spark, sf_dir, "data_quality_audit")
    assert "CartesianProduct" not in p3
    assert re.search(r"(BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin).*LeftAnti", p3, re.DOTALL), p3


def test_round8_lm_and_graph_plans(spark, sf_dir):
    """doc_bigram_nll_top20: model aggregates must be map-side combined
    (partial_count below the exchanges) and the ranking a
    TakeOrderedAndProject; copurchase_triangle_count: every join is an
    equi-join on an integer vertex key (degree orientation exists
    precisely so adjacency joins hash-partition on the source vertex)
    and the closing test is the row-local edge-iterator
    array_intersect — open wedges must never appear as a join output,
    and a CartesianProduct or NestedLoop anywhere means the
    orientation broke."""
    p = fresh_plan(spark, sf_dir, "doc_bigram_nll_top20")
    assert "TakeOrderedAndProject" in p, p
    assert "CartesianProduct" not in p

    p2 = fresh_plan(spark, sf_dir, "copurchase_triangle_count")
    assert "CartesianProduct" not in p2, p2
    assert "array_intersect" in p2, p2
    assert re.search(r"(SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin)", p2), p2


def test_round8b_plan_shapes(spark, sf_dir):
    """Round-8 continuation pins. k_anonymity_audit: two aggregations,
    no join at all (band table derives from the group relation).
    cms_token_heavy_hitters: the grid probe must be a BROADCAST join
    (the cell grid is bounded at depth*width rows) — a shuffled join
    against a 2048-row relation would be a planning failure.
    copurchase_2hop_reach: frontier expansion must run through
    LeftSemi incidence joins and never materialize the co-purchase
    edge relation (no lineitem-lineitem self equi-join condition on
    l_orderkey with a partkey inequality). value_drift_psi /
    priority_status_mutual_info: contingency joins happen on
    post-aggregate relations — no CartesianProduct anywhere."""
    p = fresh_plan(spark, sf_dir, "k_anonymity_audit")
    assert "Join" not in p, p
    assert p.count("HashAggregate") >= 4, p  # two aggs x partial/final

    p2 = fresh_plan(spark, sf_dir, "cms_token_heavy_hitters")
    assert "BroadcastHashJoin" in p2, p2

    p3 = fresh_plan(spark, sf_dir, "copurchase_2hop_reach")
    assert p3.count("LeftSemi") >= 4, p3  # two semi-joins per hop
    assert "CartesianProduct" not in p3

    for name in ("value_drift_psi", "priority_status_mutual_info",
                 "benford_first_digit_audit", "daily_value_interpolated"):
        pn = fresh_plan(spark, sf_dir, name)
        assert "CartesianProduct" not in pn, name


def test_token_shard_plan_reuses_range_exchange(spark, sf_dir):
    """shard_by_budget's counts path and rank path must share ONE
    materialized range exchange at runtime (tokenization runs once):
    the AQE final plan contains a ReusedExchange node."""
    from pyspark.sql import functions as F

    q = REGISTRY["token_shard_plan"]
    df = (q.build or q.fn)(spark, sf_dir).where(F.lit(True))
    df.collect()
    final = df._jdf.queryExecution().executedPlan().toString()
    assert "ReusedExchange" in final, final


def test_round11_query_plan_shapes(spark, sf_dir):
    """Round-11 scale-critical shapes. skyline: exactly two sort
    exchanges (bucket-local pass + bounded global pass) over ONE scan.
    sweep-line pair: single events scan (the explode form — a union
    re-scan would show two), two shuffles. bootstrap: NO Generate node
    (the row-per-draw explode is gone — draws are wide aggregates) and
    a single orders-scan aggregation per leg. kmeans: both assignment
    passes broadcast the centroids (no vector-table shuffle for
    assignment). golden record: no CartesianProduct anywhere (blocked
    equi-join candidates only)."""
    def scan_count(plan: str) -> int:
        return len(re.findall(r"^\(\d+\) Scan parquet", plan, re.MULTILINE))

    p = fresh_plan(spark, sf_dir, "skyline_orders")
    assert scan_count(p) == 1 and shuffle_count(p) == 2, p

    for name in ("max_concurrent_sessions", "interval_union_coverage"):
        # At the (footer-gated) test SF the sweep keeps its original
        # small-corpus plan: one scan, two data shuffles + the ordered
        # output range exchange, no sub-bucketing.
        p = fresh_plan(spark, sf_dir, name)
        assert scan_count(p) == 1, name
        assert shuffle_count(p) <= 3, name
        assert "Generate" in p, name  # the boundary-delta explode
        assert "bkt" not in p, name  # gate: legacy path below the gate

    # Round 17 two-level sweep (the over-gate path, forced via
    # n_rows=None): the user-day span relation is materialized ONCE at
    # build (eager localCheckpoint), so the plan holds NO parquet
    # re-scan — both the boundary stream and the tiny bucket summary
    # read the checkpointed RDD. The boundary stream crosses exactly
    # one data exchange (the (day, bucket) window — |days|x|buckets|
    # partitions, no |days|-bounded window remains) and the
    # bucket-offset summary attaches via BROADCAST join, never a
    # shuffle of the boundary rows.
    from healthcare_aihw_etl_pipeline_spark.operators.sweep import (
        daily_boundary_segments,
        union_coverage_from_segments,
    )
    from healthcare_aihw_etl_pipeline_spark.sources.catalog import load_table

    ev = load_table(spark, sf_dir, "events")
    p = plan_of(
        union_coverage_from_segments(daily_boundary_segments(ev, None))
    )
    assert scan_count(p) == 0, p
    assert len(re.findall(r"^\(\d+\) Scan ExistingRDD", p,
                          re.MULTILINE)) == 2, p
    # boundary window exchange + summary partial-agg/day-window
    # exchanges (bucket-grain, tiny) + consumer day agg + ordered output
    assert shuffle_count(p) <= 6, p
    assert "BroadcastHashJoin" in p, p
    assert "bkt" in p, p  # the sub-bucketed window key
    assert "Generate" in p, p  # the boundary-delta explode

    p = fresh_plan(spark, sf_dir, "poisson_bootstrap_order_value")
    # the only generator is the 1-row stack() reshape of the wide
    # aggregate — a row-per-draw explode over the fact table must not
    # come back
    gens = re.findall(r"^\(\d+\) Generate\n(?:.*\n)*?Arguments: ([^\n]*)",
                      p, re.MULTILINE)
    assert len(gens) == 1 and "stack" in gens[0], p
    assert "CartesianProduct" not in p

    # Round 16: assignments are row-local argmins over LITERAL centroid
    # arrays (bounded collect) — no centroid join of any kind remains,
    # and the embedding payload never crosses an exchange (the final
    # plan's shuffles are the k*d-sized partial-agg outputs only).
    p = fresh_plan(spark, sf_dir, "kmeans_refine_clusters")
    assert "BroadcastNestedLoopJoin" not in p and "Join" not in p, p
    assert "CartesianProduct" not in p

    p = fresh_plan(spark, sf_dir, "golden_record_customers")
    assert "CartesianProduct" not in p

    p = fresh_plan(spark, sf_dir, "cuped_ab_adjustment")
    assert scan_count(p) == 1 and "CartesianProduct" not in p


def test_round11b_query_plan_shapes(spark, sf_dir):
    """Round-11b scale-critical shapes. RRF: each retrieval leg ends in
    a bounded TakeOrderedAndProject (per-partition heaps), never a
    global sort of the corpus. winnowing: ONE documents scan, exactly
    ONE Generate (the per-window-minimum fingerprint explode — the
    ~w-fold-collapsed stream; a raw token/k-gram explode would show a
    second), no Window. grid clustering / Theil-Sen: all fact-grain
    work happens ONCE into the bounded localCheckpoint (zero parquet
    scans in the final plan); the pair pass is the intended
    BroadcastNestedLoopJoin over the calendar-bounded day grain."""
    def scan_count(plan: str) -> int:
        return len(re.findall(r"^\(\d+\) Scan parquet", plan, re.MULTILINE))

    p = fresh_plan(spark, sf_dir, "hybrid_rrf_fusion_top10")
    assert p.count("TakeOrderedAndProject") >= 2, p
    assert "CartesianProduct" not in p

    p = fresh_plan(spark, sf_dir, "winnow_shared_fingerprints")
    assert scan_count(p) == 1, p
    assert len(re.findall(r"^\(\d+\) Generate", p, re.MULTILINE)) == 1, p
    # 3 exchanges: the deliberate round-robin doc spread (parallelizes
    # the row-local md5 pass past a 1-2-split scan) + the two
    # fingerprint aggregates. No Window anywhere.
    assert shuffle_count(p) <= 3 and "Window" not in p, p

    p = fresh_plan(spark, sf_dir, "grid_density_clusters")
    assert scan_count(p) == 0, p  # cell grain only, post-checkpoint
    assert "CartesianProduct" not in p

    # Round 16: the pairwise-slope median runs driver-side over the
    # collected calendar-bounded day grain (bounded-collect
    # discipline), so the returned plan is a one-row local projection
    # — no pair join, no unpartitioned window, no scan.
    p = fresh_plan(spark, sf_dir, "theil_sen_daily_trend")
    assert scan_count(p) == 0, p
    assert "BroadcastNestedLoopJoin" not in p, p
    assert "CartesianProduct" not in p and "Window" not in p, p


def test_round11b_batch2_plan_shapes(spark, sf_dir):
    """Batch-2 shapes. decision stump: the fact table collapses once
    into the checkpointed class histogram (zero parquet scans in the
    final plan). trigrams: one scan, one user-partitioned Window, then
    a bounded TakeOrderedAndProject. FIFO: exactly TWO lineitem scans
    (supply + demand legs; the demand total rides the demand leg's own
    cumulative max, not a third scan) and the match is an EQUI
    SortMergeJoin on partkey — never a pure range join. Nelson-Aalen:
    KM's shape — no CartesianProduct, hazard window on the bounded
    duration grain."""
    def scan_count(plan: str) -> int:
        return len(re.findall(r"^\(\d+\) Scan parquet", plan, re.MULTILINE))

    p = fresh_plan(spark, sf_dir, "decision_stump_quantity_split")
    assert scan_count(p) == 0 and "CartesianProduct" not in p, p

    p = fresh_plan(spark, sf_dir, "event_trigram_patterns")
    assert scan_count(p) == 1 and "Window" in p, p
    assert "TakeOrderedAndProject" in p, p

    p = fresh_plan(spark, sf_dir, "fifo_return_matching")
    assert scan_count(p) == 2, p
    # The match is an EQUI join on partkey (hash or merge, per stats) —
    # never a nested-loop range join over the fact.
    assert ("SortMergeJoin" in p) or ("BroadcastHashJoin" in p), p
    assert "CartesianProduct" not in p, p
    assert "BroadcastNestedLoopJoin" not in p, p

    p = fresh_plan(spark, sf_dir, "nelson_aalen_hazard")
    assert "CartesianProduct" not in p and "Window" in p, p


def test_round11b_batch3_plan_shapes(spark, sf_dir):
    """Batch-3 shapes. Segmented trend: detector and both segment fits
    reuse ONE checkpointed day grain (zero parquet scans in the final
    plan). Wasserstein: one scan, then the CDF window on the calendar-
    bounded support. Gini: one scan, two groupBys (customer, then
    distinct value), no Cartesian anywhere."""
    def scan_count(plan: str) -> int:
        return len(re.findall(r"^\(\d+\) Scan parquet", plan, re.MULTILINE))

    p = fresh_plan(spark, sf_dir, "segmented_trend_changepoint")
    assert scan_count(p) == 0 and "CartesianProduct" not in p, p

    p = fresh_plan(spark, sf_dir, "wasserstein_daily_revenue")
    assert scan_count(p) == 1 and "CartesianProduct" not in p, p

    p = fresh_plan(spark, sf_dir, "gini_customer_revenue")
    assert scan_count(p) == 1 and "CartesianProduct" not in p, p


def test_round11b_batch4_plan_shapes(spark, sf_dir):
    """Batch-4 shapes. Consistent-hash resharding: both ring lookups
    are row-local constant-array expressions — ONE scan, no join
    anywhere, one shard-grain aggregate. Greedy coverage: the rounds
    execute at construction (bounded 1-row argmax collects, the
    capped-domain policy); the returned relation is driver-local."""
    def scan_count(plan: str) -> int:
        return len(re.findall(r"^\(\d+\) Scan parquet", plan, re.MULTILINE))

    p = fresh_plan(spark, sf_dir, "consistent_hash_resharding")
    assert scan_count(p) == 1, p
    assert "Join" not in p and "CartesianProduct" not in p, p
    assert shuffle_count(p) <= 2, p

    p = fresh_plan(spark, sf_dir, "greedy_source_coverage")
    assert scan_count(p) == 0, p
    assert ("LocalTableScan" in p) or ("Scan ExistingRDD" in p), p


def test_stratified_att_plan_shape(spark, sf_dir):
    """One events scan, user groupBy then the bounded (stratum,
    variant) groupBy, scalar math after — no join, no window, no
    Cartesian anywhere."""
    p = fresh_plan(spark, sf_dir, "stratified_att_matching")
    scans = len(re.findall(r"^\(\d+\) Scan parquet", p, re.MULTILINE))
    assert scans == 1 and "Join" not in p and "Window" not in p, p


def test_mann_whitney_plan_shape(spark, sf_dir):
    """One orders scan, one band-grain groupBy, the cumulative window
    on distinct bands, scalar math — no join anywhere."""
    p = fresh_plan(spark, sf_dir, "mann_whitney_order_values")
    scans = len(re.findall(r"^\(\d+\) Scan parquet", p, re.MULTILINE))
    assert scans == 1 and "Join" not in p, p
