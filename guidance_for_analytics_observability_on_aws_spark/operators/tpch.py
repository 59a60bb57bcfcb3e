"""General OLAP query group (T) — TPC-H-style analytics over the star schema.

These prove the engine's general query capability (joins, wide aggregation,
windows, rollup, as-of) and are the benchmark workload. Plans are pure
DataFrame API: Catalyst does join reordering/pushdown; small dims are
explicitly broadcast; AQE handles skew at scale.

Oracle-portability: every money aggregate goes through integer cents
(``FLOOR(x * 100 + 0.5)`` per row — identical IEEE arithmetic in any engine,
then exact BIGINT sums, order-insensitive), so value-hashes match DuckDB
bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..sources.telemetry import normalize_events


def cents(col: Column) -> Column:
    return F.floor(col * 100 + F.lit(0.5))


def revenue_cents() -> Column:
    return F.floor(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100 + F.lit(0.5)
    )


def q1_pricing_summary(lineitem: DataFrame) -> DataFrame:
    """T1: pricing summary report (TPC-H Q1 shape)."""
    disc = 1 - F.col("l_discount")
    charge = F.col("l_extendedprice") * disc * (1 + F.col("l_tax"))
    f = lineitem.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
    agg = f.groupBy("l_returnflag", "l_linestatus").agg(
        F.sum(F.col("l_quantity").cast("long")).alias("sum_qty"),
        F.sum(cents(F.col("l_extendedprice"))).alias("sum_base_price_cents"),
        F.sum(revenue_cents()).alias("sum_disc_price_cents"),
        F.sum(cents(charge)).alias("sum_charge_cents"),
        F.sum(F.floor(F.col("l_discount") * 10000 + F.lit(0.5))).alias("sum_disc_bp"),
        F.count(F.lit(1)).alias("count_order"),
    )
    return agg.select(
        "l_returnflag",
        "l_linestatus",
        "sum_qty",
        "sum_base_price_cents",
        "sum_disc_price_cents",
        "sum_charge_cents",
        (F.col("sum_qty") / F.col("count_order")).alias("avg_qty"),
        (F.col("sum_base_price_cents") / 100.0 / F.col("count_order")).alias("avg_price"),
        (F.col("sum_disc_bp") / 10000.0 / F.col("count_order")).alias("avg_disc"),
        "count_order",
    )


def q3_shipping_priority(
    customer: DataFrame, orders: DataFrame, lineitem: DataFrame
) -> DataFrame:
    """T2: shipping priority (TPC-H Q3 shape) — top 10 open-order revenues."""
    cut = F.lit("1998-03-15").cast("timestamp")
    j = (
        customer.filter(F.col("c_mktsegment") == "BUILDING")
        .join(orders, F.col("c_custkey") == F.col("o_custkey"))
        .filter(F.col("o_orderdate") < cut)
        .join(lineitem, F.col("o_orderkey") == F.col("l_orderkey"))
        .filter(F.col("l_shipdate") > cut)
    )
    agg = j.groupBy(
        "l_orderkey",
        F.unix_millis(F.col("o_orderdate").cast("timestamp")).alias("order_date_ms"),
        "o_orderpriority",
    ).agg(F.sum(revenue_cents()).alias("revenue_cents"))
    return agg.orderBy(F.col("revenue_cents").desc(), F.col("l_orderkey")).limit(10)


def q5_local_supplier(
    customer: DataFrame,
    orders: DataFrame,
    lineitem: DataFrame,
    supplier: DataFrame,
    nation: DataFrame,
    region: DataFrame,
) -> DataFrame:
    """T3: local supplier volume (TPC-H Q5 shape) — revenue per nation.

    Dims (supplier/nation/region) are broadcast; the orders⋈lineitem join is
    the only large shuffle.
    """
    lo = F.lit("1996-01-01").cast("timestamp")
    hi = F.lit("1997-01-01").cast("timestamp")
    j = (
        customer.join(
            orders.filter((F.col("o_orderdate") >= lo) & (F.col("o_orderdate") < hi)),
            F.col("c_custkey") == F.col("o_custkey"),
        )
        .join(lineitem, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(F.broadcast(supplier), (F.col("l_suppkey") == F.col("s_suppkey"))
              & (F.col("c_nationkey") == F.col("s_nationkey")))
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(region.filter(F.col("r_name") == "ASIA")),
              F.col("n_regionkey") == F.col("r_regionkey"))
    )
    return j.groupBy("n_name").agg(F.sum(revenue_cents()).alias("revenue_cents"))


def q10_returned_items(
    customer: DataFrame, orders: DataFrame, lineitem: DataFrame, nation: DataFrame
) -> DataFrame:
    """T4: returned-item reporting (TPC-H Q10 shape) — top 20 customers."""
    lo = F.lit("1997-10-01").cast("timestamp")
    hi = F.lit("1998-01-01").cast("timestamp")
    j = (
        customer.join(
            orders.filter((F.col("o_orderdate") >= lo) & (F.col("o_orderdate") < hi)),
            F.col("c_custkey") == F.col("o_custkey"),
        )
        .join(
            lineitem.filter(F.col("l_returnflag") == "R"),
            F.col("o_orderkey") == F.col("l_orderkey"),
        )
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
    )
    agg = j.groupBy("c_custkey", "c_name", "c_acctbal", "n_name").agg(
        F.sum(revenue_cents()).alias("revenue_cents")
    )
    return agg.orderBy(F.col("revenue_cents").desc(), F.col("c_custkey")).limit(20)


def star_join_broadcast(
    lineitem: DataFrame, supplier: DataFrame, nation: DataFrame, region: DataFrame
) -> DataFrame:
    """T5: star join with explicit broadcast dims — region×nation rollup."""
    j = (
        lineitem.join(F.broadcast(supplier), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey"))
    )
    return j.groupBy("r_name", "n_name").agg(
        F.count(F.lit(1)).alias("n_items"),
        F.sum(F.col("l_quantity").cast("long")).alias("sum_qty"),
        F.sum(revenue_cents()).alias("revenue_cents"),
    )


def window_running_totals(orders: DataFrame) -> DataFrame:
    """T6: per-customer running spend + order rank (window functions)."""
    w = Window.partitionBy("o_custkey").orderBy("order_date_ms", "o_orderkey")
    base = orders.select(
        "o_orderkey",
        "o_custkey",
        F.unix_millis(F.col("o_orderdate").cast("timestamp")).alias("order_date_ms"),
        cents(F.col("o_totalprice")).alias("price_cents"),
    )
    return base.select(
        "o_orderkey",
        "o_custkey",
        "order_date_ms",
        "price_cents",
        F.row_number().over(w).cast("long").alias("order_rank"),
        F.sum("price_cents")
        .over(w.rowsBetween(Window.unboundedPreceding, 0))
        .alias("running_cents"),
    )


def rollup_priority_status(orders: DataFrame) -> DataFrame:
    """T7: ROLLUP aggregation over priority × status."""
    agg = orders.rollup("o_orderpriority", "o_orderstatus").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum(cents(F.col("o_totalprice"))).alias("total_cents"),
    )
    return agg.select(
        F.coalesce(F.col("o_orderpriority"), F.lit("(all)")).alias("o_orderpriority"),
        F.coalesce(F.col("o_orderstatus"), F.lit("(all)")).alias("o_orderstatus"),
        "n_orders",
        "total_cents",
    )


def promo_revenue_share(lineitem: DataFrame, part: DataFrame) -> DataFrame:
    """T9: promo revenue share per brand (TPC-H Q14 shape; exercises part).

    part is broadcast (it is a dimension); revenue stays integer-cents.
    """
    j = lineitem.join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
    promo = F.when(F.col("p_type") == "PROMO", revenue_cents()).otherwise(F.lit(0))
    agg = j.groupBy("p_brand").agg(
        F.count(F.lit(1)).alias("n_items"),
        F.sum(revenue_cents()).alias("revenue_cents"),
        F.sum(promo).alias("promo_revenue_cents"),
    )
    return agg.select(
        "*",
        (F.col("promo_revenue_cents") / F.col("revenue_cents")).alias("promo_share"),
    )


def events_funnel(events: DataFrame) -> DataFrame:
    """T10: signup → click → purchase funnel (ordered-sequence detection).

    Single aggregation per user computing the earliest timestamp of each
    step, then ordered-existence checks — no self-joins, one shuffle.
    """
    events = normalize_events(events)
    ms = F.unix_millis(F.col("ts"))
    steps = events.select("user_id", "event_type", ms.alias("ev_ms"))
    per_user = steps.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "signup", F.col("ev_ms"))).alias("first_signup_ms"),
        F.min(F.when(F.col("event_type") == "click", F.col("ev_ms"))).alias("first_click_ms"),
        F.min(F.when(F.col("event_type") == "purchase", F.col("ev_ms"))).alias(
            "first_purchase_ms"
        ),
    )
    signed = F.col("first_signup_ms").isNotNull()
    clicked = signed & F.col("first_click_ms").isNotNull() & (
        F.col("first_click_ms") > F.col("first_signup_ms")
    )
    purchased = clicked & F.col("first_purchase_ms").isNotNull() & (
        F.col("first_purchase_ms") > F.col("first_click_ms")
    )
    flags = per_user.select(
        "user_id",
        signed.alias("did_signup"),
        clicked.alias("signup_then_click"),
        purchased.alias("full_funnel"),
    )
    return flags.select(
        F.count(F.lit(1)).alias("n_users"),
        F.sum(F.when(F.col("did_signup"), 1).otherwise(0)).alias("n_signup"),
        F.sum(F.when(F.col("signup_then_click"), 1).otherwise(0)).alias("n_signup_click"),
        F.sum(F.when(F.col("full_funnel"), 1).otherwise(0)).alias("n_full_funnel"),
    )


def asof_join_attribution(events: DataFrame) -> DataFrame:
    """T8: as-of join — for each purchase, the latest prior click of the
    same user (attribution shape).

    Spark lacks a native as-of join; the scalable formulation is a single
    sort per user with ``last(..., ignorenulls)`` over the unioned stream —
    no pairwise range-join blowup (contrast: join-then-filter is O(clicks ×
    purchases) per user).
    """
    events = normalize_events(events)
    ms = F.unix_millis(F.col("ts"))
    base = events.filter(F.col("event_type").isin("click", "purchase")).select(
        "event_id",
        "user_id",
        "event_type",
        ms.alias("ev_ms"),
    )
    is_click = F.col("event_type") == "click"
    w = (
        Window.partitionBy("user_id")
        .orderBy("ev_ms", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    enriched = base.select(
        "*",
        F.last(F.when(is_click, F.col("event_id")), ignorenulls=True)
        .over(w)
        .alias("last_click_event_id"),
        F.last(F.when(is_click, F.col("ev_ms")), ignorenulls=True)
        .over(w)
        .alias("last_click_ms"),
    )
    return enriched.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_event_id"),
        "user_id",
        F.col("ev_ms").alias("purchase_ms"),
        "last_click_event_id",
        "last_click_ms",
        (F.col("ev_ms") - F.col("last_click_ms")).alias("gap_ms"),
    )


def q4_order_priority(orders: DataFrame, lineitem: DataFrame) -> DataFrame:
    """T11: order-priority check (TPC-H Q4 shape) — LEFT SEMI join.

    EXISTS(lineitem shipped >60 days after order) per order, counted by
    priority. The semi join stops probing an order on its first matching
    lineitem and never widens the row — at 100 TB that is strictly less
    shuffle + state than join-then-distinct.
    """
    f = orders.filter(
        (F.col("o_orderdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    late = f.join(
        lineitem,
        (F.col("o_orderkey") == F.col("l_orderkey"))
        & (F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS")),
        "leftsemi",
    )
    return (
        late.groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
        .orderBy("o_orderpriority")
    )


def inactive_customers(customer: DataFrame, orders: DataFrame) -> DataFrame:
    """T12: customers with no recent orders — LEFT ANTI join.

    NOT EXISTS(order since cutoff) per customer. The anti join is the
    Spark-native NOT IN that stays null-safe and streams map-side when the
    right side fits a broadcast (here the filtered recent-orders key set).
    """
    recent = orders.filter(
        F.col("o_orderdate") >= F.lit("1998-01-01").cast("timestamp")
    ).select(F.col("o_custkey").alias("c_custkey"))
    return (
        customer.join(F.broadcast(recent), "c_custkey", "leftanti")
        .select("c_custkey", "c_name", "c_mktsegment", "c_acctbal")
        .orderBy("c_custkey")
    )


def q18_large_orders(
    customer: DataFrame, orders: DataFrame, lineitem: DataFrame, min_qty: int = 300
) -> DataFrame:
    """T13: large-volume orders (TPC-H Q18 shape) — HAVING + IN-subquery.

    The qualifying-keys aggregation (sum qty per order HAVING > threshold)
    runs FIRST and shrinks to a tiny key set that semi-joins back — the
    classic aggregate-then-join ordering that keeps the big join small.
    """
    qualifying = (
        lineitem.groupBy("l_orderkey")
        .agg(F.sum(F.col("l_quantity").cast("long")).alias("total_qty"))
        .filter(F.col("total_qty") > min_qty)
    )
    return (
        orders.join(
            F.broadcast(qualifying),
            F.col("o_orderkey") == F.col("l_orderkey"),
        )
        .join(customer, F.col("o_custkey") == F.col("c_custkey"))
        .select(
            "c_custkey",
            "c_name",
            "o_orderkey",
            F.unix_millis(F.col("o_orderdate").cast("timestamp")).alias("order_date_ms"),
            cents(F.col("o_totalprice")).alias("total_price_cents"),
            "total_qty",
        )
        .orderBy(F.col("total_qty").desc(), "o_orderkey")
    )


def q13_customer_distribution(customer: DataFrame, orders: DataFrame) -> DataFrame:
    """T15: customer order-count distribution (TPC-H Q13 shape).

    LEFT OUTER join keeps zero-order customers (the `c_count = 0` bucket),
    then a second aggregation turns per-customer counts into a histogram.
    Both aggregations partial-aggregate map-side; the second one's input is
    already tiny (one row per customer), and its key space (distinct order
    counts) is trivially small, so the plan is one real shuffle + one cheap
    one at any scale.
    """
    counts = (
        customer.select("c_custkey")
        .join(
            orders.filter(F.col("o_orderpriority") != "1-URGENT").select(
                "o_custkey", "o_orderkey"
            ),
            F.col("c_custkey") == F.col("o_custkey"),
            "left",
        )
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return (
        counts.groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("custdist"))
        .orderBy(F.col("custdist").desc(), F.col("c_count").desc())
    )


def q19_discounted_revenue(lineitem: DataFrame, part: DataFrame) -> DataFrame:
    """T16: disjunctive-predicate revenue (TPC-H Q19 shape).

    Three OR'd brand×size×quantity predicate groups over lineitem⋈part.
    The join-key predicate stays conjunctive so the broadcast hash join is
    still planned; the disjunction is evaluated post-join inside
    WholeStageCodegen, and the `l_quantity <= 30` envelope (implied by all
    three branches) is stated separately so it pushes down to the lineitem
    scan and prunes row groups before the join.
    """
    j = lineitem.filter(F.col("l_quantity") <= 30).join(
        F.broadcast(part), F.col("l_partkey") == F.col("p_partkey")
    )
    b1 = (
        (F.col("p_brand") == "Brand#12")
        & F.col("p_size").between(1, 5)
        & F.col("l_quantity").between(1, 11)
    )
    b2 = (
        (F.col("p_brand") == "Brand#23")
        & F.col("p_size").between(1, 10)
        & F.col("l_quantity").between(10, 20)
    )
    b3 = (
        (F.col("p_brand") == "Brand#4")
        & F.col("p_size").between(1, 15)
        & F.col("l_quantity").between(20, 30)
    )
    return (
        j.filter(b1 | b2 | b3)
        .groupBy("p_brand")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.sum(revenue_cents()).alias("revenue_cents"),
        )
    )


def q22_dormant_high_balance(customer: DataFrame, orders: DataFrame) -> DataFrame:
    """T17: dormant high-balance customers (TPC-H Q22 shape).

    Scalar aggregate subquery (average positive balance) + LEFT ANTI join
    (customers with no orders at all), grouped by market segment. The
    threshold is integer cents via BIGINT division so the comparison is
    bit-identical across engines; the 1-row aggregate is cross-broadcast,
    never a shuffle.
    """
    bal_cents = cents(F.col("c_acctbal"))
    threshold = (
        customer.filter(F.col("c_acctbal") > 0)
        .agg(
            F.expr(
                "CAST(SUM(FLOOR(c_acctbal * 100 + 0.5)) AS BIGINT) DIV COUNT(*)"
            ).alias("avg_bal_cents")
        )
    )
    rich = (
        customer.join(F.broadcast(threshold))
        .filter(bal_cents > F.col("avg_bal_cents"))
    )
    dormant = rich.join(
        orders.select(F.col("o_custkey").alias("c_custkey")), "c_custkey", "leftanti"
    )
    return dormant.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n_custs"),
        F.sum(bal_cents).alias("total_acctbal_cents"),
    )


def q12_priority_by_status(orders: DataFrame, lineitem: DataFrame) -> DataFrame:
    """T18: conditional-count aggregation (TPC-H Q12 shape; the driver
    schema has no `l_shipmode`, so `l_linestatus` plays the grouping
    column).

    High-priority vs other order counts per line status for lineitems
    shipped in 1997 — one join, one aggregation, the CASE counts fold into
    the same partial aggregate.
    """
    f = lineitem.filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    j = orders.join(f, F.col("o_orderkey") == F.col("l_orderkey"))
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        j.groupBy("l_linestatus")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(high, 0).otherwise(1)).alias("low_line_count"),
        )
        .orderBy("l_linestatus")
    )


def q6_forecast_revenue(lineitem: DataFrame) -> DataFrame:
    """T19: forecasting revenue change (TPC-H Q6 shape) — pure scan-agg.

    Every predicate is a simple column comparison, so the whole WHERE
    clause reaches the parquet scan as PushedFilters and prunes row groups
    before a single row is deserialized; the aggregation is one partial +
    one 1-row final. This is the query whose plan should be "scan, filter,
    agg" and literally nothing else at any scale.
    """
    f = lineitem.filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
        & (F.col("l_discount") >= 0.05)
        & (F.col("l_discount") <= 0.07)
        & (F.col("l_quantity") < 24)
    )
    return f.agg(
        F.sum(cents(F.col("l_extendedprice") * F.col("l_discount"))).alias(
            "revenue_cents"
        ),
        F.count(F.lit(1)).alias("n_items"),
    )


def q15_top_supplier(lineitem: DataFrame, supplier: DataFrame) -> DataFrame:
    """T20: top supplier (TPC-H Q15 shape) — view-max selection.

    Quarterly revenue per supplier, then the supplier(s) whose revenue
    equals the global max. The per-supplier aggregate is computed ONCE and
    reused for both the max (1-row, cross-broadcast) and the final
    selection — no recomputation, no correlated rescan; supplier is a
    broadcast dim.
    """
    rev = (
        lineitem.filter(
            (F.col("l_shipdate") >= F.lit("1997-07-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-10-01").cast("timestamp"))
        )
        .groupBy("l_suppkey")
        .agg(F.sum(revenue_cents()).alias("total_revenue_cents"))
    )
    max_rev = rev.agg(F.max("total_revenue_cents").alias("max_rev"))
    top = rev.join(F.broadcast(max_rev)).filter(
        F.col("total_revenue_cents") == F.col("max_rev")
    )
    return (
        supplier.join(F.broadcast(top), F.col("s_suppkey") == F.col("l_suppkey"))
        .select("s_suppkey", "s_name", "total_revenue_cents")
        .orderBy("s_suppkey")
    )


def q16_supplier_counts(
    lineitem: DataFrame, part: DataFrame, supplier: DataFrame
) -> DataFrame:
    """T21: parts/supplier relationship (TPC-H Q16 shape) — DISTINCT count
    with an exclusion list.

    Distinct suppliers per (brand, type, size) over the lineitem
    part↔supplier relation (the driver schema has no partsupp), excluding
    one brand and blacklisted suppliers (negative balance plays the
    "complaints" predicate). The blacklist is tiny → broadcast LEFT ANTI;
    the distinct-count shuffles once on the grouping key with the suppkey
    de-dup folded into the same aggregation.
    """
    blacklist = supplier.filter(F.col("s_acctbal") < 0).select("s_suppkey")
    j = (
        lineitem.select("l_partkey", "l_suppkey")
        .join(
            F.broadcast(part.filter(F.col("p_brand") != "Brand#45")),
            F.col("l_partkey") == F.col("p_partkey"),
        )
        .join(
            F.broadcast(blacklist),
            F.col("l_suppkey") == F.col("s_suppkey"),
            "leftanti",
        )
    )
    return (
        j.groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
        .orderBy(
            F.col("supplier_cnt").desc(), "p_brand", "p_type", "p_size"
        )
    )


def q17_small_qty_revenue(lineitem: DataFrame, part: DataFrame) -> DataFrame:
    """T22: small-quantity-order revenue (TPC-H Q17 shape) — correlated
    AVG subquery, decorrelated.

    `l_quantity < 0.2 * avg(l_quantity per part)` is rewritten as the
    exact integer predicate `5 * qty * cnt < sum_qty`, so the comparison
    is BIGINT-exact in every engine. The brand filter runs FIRST (broadcast
    part dim), the per-part average is computed over only the filtered
    lineitems, and the join back is on the same key — one narrow shuffle
    on l_partkey, reused by both the aggregate and the join under AQE.
    """
    li = lineitem.join(
        F.broadcast(part.filter(F.col("p_brand") == "Brand#23")),
        F.col("l_partkey") == F.col("p_partkey"),
    ).select(
        "l_partkey",
        F.col("l_quantity").cast("long").alias("qty"),
        "l_extendedprice",
    )
    per_part = li.groupBy(F.col("l_partkey").alias("pp_partkey")).agg(
        F.sum("qty").alias("sum_qty"), F.count(F.lit(1)).alias("cnt")
    )
    small = li.join(
        per_part, F.col("l_partkey") == F.col("pp_partkey")
    ).filter(F.lit(5) * F.col("qty") * F.col("cnt") < F.col("sum_qty"))
    return small.agg(
        F.count(F.lit(1)).alias("n_items"),
        F.coalesce(
            F.sum(cents(F.col("l_extendedprice"))), F.lit(0).cast("long")
        ).alias("total_extprice_cents"),
    ).select(
        "n_items",
        "total_extprice_cents",
        (F.col("total_extprice_cents") / 100.0 / 7.0).alias("avg_yearly"),
    )


def q21_waiting_supplier(
    lineitem: DataFrame, orders: DataFrame, supplier: DataFrame
) -> DataFrame:
    """T23: suppliers who kept orders waiting (TPC-H Q21 shape) — the
    EXISTS + NOT-EXISTS double-correlation, decorrelated to one pass.

    "Late" is `l_shipdate > o_orderdate + 90 days` (the driver schema has
    no commit/receipt dates). A supplier qualifies on an order iff it was
    late, the order had other suppliers, and NONE of the others were late.
    Instead of two correlated rescans of lineitem (the literal SQL), one
    per-order aggregation computes #distinct suppliers and #distinct late
    suppliers; late rows then join that tiny per-order summary — lineitem
    is read once and shuffled once on l_orderkey.
    """
    f = lineitem.join(
        orders.filter(F.col("o_orderstatus") == "F").select(
            "o_orderkey", "o_orderdate"
        ),
        F.col("l_orderkey") == F.col("o_orderkey"),
    ).select(
        "l_orderkey",
        "l_suppkey",
        (
            F.col("l_shipdate")
            > F.col("o_orderdate") + F.expr("INTERVAL 90 DAYS")
        ).alias("is_late"),
    )
    # One pass: the explicit l_orderkey repartition satisfies BOTH the
    # (l_orderkey, l_suppkey) grouping (hash on a subset of the keys
    # clusters the full key) and the per-order window partitioning, so
    # lineitem is read once and shuffled once; the per-order stats are
    # window aggregates over the already-clustered per-pair rows — no
    # second scan, no self-join, no countDistinct expansion.
    per_pair = (
        f.repartition("l_orderkey")
        .groupBy("l_orderkey", "l_suppkey")
        .agg(
            F.sum(F.when(F.col("is_late"), 1).otherwise(0)).alias("late_rows")
        )
    )
    wo = Window.partitionBy("l_orderkey")
    enriched = per_pair.select(
        "*",
        F.count(F.lit(1)).over(wo).alias("n_supp"),
        F.sum(F.when(F.col("late_rows") > 0, 1).otherwise(0))
        .over(wo)
        .alias("n_late_supp"),
    )
    qualifying = enriched.filter(
        (F.col("late_rows") > 0)
        & (F.col("n_supp") > 1)
        & (F.col("n_late_supp") == 1)
    )
    return (
        qualifying.groupBy("l_suppkey")
        .agg(F.sum("late_rows").alias("numwait"))
        .join(
            F.broadcast(supplier.select("s_suppkey", "s_name")),
            F.col("l_suppkey") == F.col("s_suppkey"),
        )
        .select("s_name", "numwait")
        .orderBy(F.col("numwait").desc(), "s_name")
    )


def q7_volume_shipping(
    lineitem: DataFrame,
    orders: DataFrame,
    customer: DataFrame,
    supplier: DataFrame,
    nation: DataFrame,
    na: str = "NATION_18",
    nb: str = "NATION_19",
) -> DataFrame:
    """T24: volume shipping between two nations (TPC-H Q7 shape).

    Bidirectional nation-pair trade per year. Both nation dims are
    pre-filtered to the two names BEFORE broadcast, so the big joins only
    keep rows that can possibly qualify; the direction disjunction is
    evaluated on two broadcast-joined tiny columns post-join.
    """
    two = nation.filter(F.col("n_name").isin(na, nb))
    sn = two.select(
        F.col("n_nationkey").alias("s_nk"), F.col("n_name").alias("supp_nation")
    )
    cn = two.select(
        F.col("n_nationkey").alias("c_nk"), F.col("n_name").alias("cust_nation")
    )
    j = (
        lineitem.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
        )
        .join(F.broadcast(supplier), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(sn), F.col("s_nationkey") == F.col("s_nk"))
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(customer, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(cn), F.col("c_nationkey") == F.col("c_nk"))
        .filter(
            ((F.col("supp_nation") == na) & (F.col("cust_nation") == nb))
            | ((F.col("supp_nation") == nb) & (F.col("cust_nation") == na))
        )
    )
    return (
        j.groupBy(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").cast("long").alias("l_year"),
        )
        .agg(F.sum(revenue_cents()).alias("revenue_cents"))
        .orderBy("supp_nation", "cust_nation", "l_year")
    )


def q8_market_share(
    lineitem: DataFrame,
    orders: DataFrame,
    customer: DataFrame,
    supplier: DataFrame,
    nation: DataFrame,
    region: DataFrame,
    part: DataFrame,
    target_nation: str = "NATION_3",
) -> DataFrame:
    """T25: national market share (TPC-H Q8 shape).

    Share of one nation's suppliers in a region's market for one part
    type, per year. Numerator and denominator are the SAME aggregation
    pass (conditional sum over exact integer cents), so the share is one
    scan and the division is computed from deterministic aggregates.
    """
    amer_nations = nation.join(
        F.broadcast(region.filter(F.col("r_name") == "AMERICA")),
        F.col("n_regionkey") == F.col("r_regionkey"),
    ).select(F.col("n_nationkey").alias("cn_nk"))
    supp_nation = nation.select(
        F.col("n_nationkey").alias("sn_nk"), F.col("n_name").alias("supp_nation")
    )
    j = (
        lineitem.join(
            F.broadcast(part.filter(F.col("p_type") == "STANDARD")),
            F.col("l_partkey") == F.col("p_partkey"),
        )
        .join(
            orders.filter(
                (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
                & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
            ),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .join(customer, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(amer_nations), F.col("c_nationkey") == F.col("cn_nk"), "leftsemi")
        .join(F.broadcast(supplier), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(supp_nation), F.col("s_nationkey") == F.col("sn_nk"))
    )
    agg = j.groupBy(
        F.year("o_orderdate").cast("long").alias("o_year")
    ).agg(
        F.sum(
            F.when(F.col("supp_nation") == target_nation, revenue_cents()).otherwise(
                F.lit(0)
            )
        ).alias("nation_revenue_cents"),
        F.sum(revenue_cents()).alias("total_revenue_cents"),
    )
    return agg.select(
        "o_year",
        "nation_revenue_cents",
        "total_revenue_cents",
        (F.col("nation_revenue_cents") / F.col("total_revenue_cents")).alias(
            "mkt_share"
        ),
    ).orderBy("o_year")


def q20_excess_share_suppliers(
    lineitem: DataFrame, part: DataFrame, supplier: DataFrame
) -> DataFrame:
    """T26: dominant-share suppliers (TPC-H Q20 shape, adapted — the
    driver schema has no partsupp.availqty).

    Suppliers who shipped MORE than a quarter of any widget part's 1997
    volume. The literal SQL is a nested correlated aggregate (share of a
    per-part total); here the same l_partkey clustering serves both the
    per-(part,supplier) aggregation and the per-part window total — one
    scan, one shuffle, exact integer compare `4·supp_qty > total_qty`.
    """
    widget_parts = part.filter(F.col("p_name").like("%widget")).select("p_partkey")
    li = lineitem.filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
    ).join(
        F.broadcast(widget_parts), F.col("l_partkey") == F.col("p_partkey")
    ).select("l_partkey", "l_suppkey", F.col("l_quantity").cast("long").alias("qty"))
    per_ps = (
        li.repartition("l_partkey")
        .groupBy("l_partkey", "l_suppkey")
        .agg(F.sum("qty").alias("supp_qty"))
    )
    enriched = per_ps.select(
        "*",
        F.sum("supp_qty").over(Window.partitionBy("l_partkey")).alias("total_qty"),
    )
    qualifying = (
        enriched.filter(F.lit(4) * F.col("supp_qty") > F.col("total_qty"))
        .select("l_suppkey")
        .distinct()
    )
    return (
        supplier.join(
            F.broadcast(qualifying), F.col("s_suppkey") == F.col("l_suppkey")
        )
        .select("s_suppkey", "s_name")
        .orderBy("s_suppkey")
    )


def cube_priority_segment(orders: DataFrame, customer: DataFrame) -> DataFrame:
    """T14: CUBE over priority × market segment (all four grouping sets).

    Unlike T7's ROLLUP (a prefix hierarchy), CUBE emits every subset —
    Spark plans both through a single Expand + one aggregation pass, so
    the input is read once regardless of how many grouping sets there are.
    """
    j = orders.join(
        F.broadcast(customer.select("c_custkey", "c_mktsegment")),
        F.col("o_custkey") == F.col("c_custkey"),
    )
    agg = j.cube("o_orderpriority", "c_mktsegment").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum(cents(F.col("o_totalprice"))).alias("total_cents"),
    )
    return agg.select(
        F.coalesce(F.col("o_orderpriority"), F.lit("(all)")).alias("o_orderpriority"),
        F.coalesce(F.col("c_mktsegment"), F.lit("(all)")).alias("c_mktsegment"),
        "n_orders",
        "total_cents",
    )


def pivot_status_by_priority(orders: DataFrame) -> DataFrame:
    """T27: PIVOT — order status fanned into columns per priority.

    Uses the real ``groupBy().pivot()`` operator with an explicit value
    list (no extra distinct-values scan); Catalyst compiles it to a single
    conditional aggregation pass, so it shuffles exactly once on the
    (tiny) priority key. Money goes through integer cents.
    """
    base = orders.select(
        "o_orderpriority",
        "o_orderstatus",
        cents(F.col("o_totalprice")).alias("price_cents"),
    )
    p = base.groupBy("o_orderpriority").pivot("o_orderstatus", ["F", "O", "P"]).agg(
        F.count(F.lit(1)).alias("n"), F.sum("price_cents").alias("cents")
    )
    out = [F.col("o_orderpriority")]
    for status in ("F", "O", "P"):
        out.append(
            F.coalesce(F.col(f"{status}_n"), F.lit(0)).cast("long").alias(f"n_{status.lower()}")
        )
        out.append(
            F.coalesce(F.col(f"{status}_cents"), F.lit(0)).cast("long").alias(
                f"cents_{status.lower()}"
            )
        )
    return p.select(*out)


def events_retention(events: DataFrame) -> DataFrame:
    """T28: cohort retention matrix (app/run cardinality dashboard analytics
    generalized to the classic D0/D1/..-retention shape).

    Cohort = each user's first active day; cell (cohort_day, day_offset) =
    distinct users from that cohort active that day. Two aggregations over
    the (user, day) distinct set — which is itself map-side-combinable.
    The cohort dimension joins back via broadcast (one row per user: small
    relative to events; at true 100 TB user-cardinality it flips to a
    shuffle join automatically — the plan stays correct either way).
    """
    events = normalize_events(events)
    day = F.expr("unix_millis(ts) DIV 86400000")
    active = events.select(F.col("user_id"), day.alias("day")).distinct()
    cohort = active.groupBy("user_id").agg(F.min("day").alias("cohort_day"))
    return (
        active.join(cohort, "user_id")
        .groupBy("cohort_day", (F.col("day") - F.col("cohort_day")).alias("day_offset"))
        .agg(F.countDistinct("user_id").alias("n_active_users"))
    )


def window_lead_lag_ntile(orders: DataFrame) -> DataFrame:
    """T29: window-function suite — lead/lag/ntile/percent_rank/first/last
    in ONE window pass per customer.

    All six functions share a single window spec, so Catalyst evaluates
    them in one Window operator over one sort — no repeated shuffles.
    percent_rank's only float op is one final division; money is integer
    cents throughout.
    """
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    pc = cents(F.col("o_totalprice"))
    return orders.select(
        "o_custkey",
        "o_orderkey",
        pc.alias("price_cents"),
        F.lag(pc).over(w).alias("prev_price_cents"),
        F.lead(pc).over(w).alias("next_price_cents"),
        F.ntile(4).over(w).alias("quartile"),
        F.percent_rank().over(w).alias("pct_rank"),
        F.first(pc).over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ).alias("first_price_cents"),
        (pc - F.lag(pc).over(w)).alias("delta_cents"),
    )


def set_ops_customers(customer: DataFrame, orders: DataFrame) -> DataFrame:
    """T30: set operators — INTERSECT / EXCEPT between two customer key sets
    (high-balance vs recently-active), reduced to one summary row.

    Spark compiles INTERSECT/EXCEPT to left-semi/left-anti hash joins over
    distinct keys — the same shuffle-once shape as any keyed join, so the
    operators scale like joins, not like sorts.
    """
    high = customer.filter(F.col("c_acctbal") > 5000).select(
        F.col("c_custkey").alias("custkey")
    )
    active = (
        orders.filter(F.col("o_orderdate") >= "1998-01-01")
        .select(F.col("o_custkey").alias("custkey"))
        .distinct()
    )
    n_both = high.intersect(active).agg(F.count(F.lit(1)).alias("n_both"))
    n_high_only = high.subtract(active).agg(F.count(F.lit(1)).alias("n_high_only"))
    n_active_only = active.subtract(high).agg(
        F.count(F.lit(1)).alias("n_active_only")
    )
    return n_both.crossJoin(n_high_only).crossJoin(n_active_only)


def merge_scd1_customers(customer: DataFrame, orders: DataFrame) -> DataFrame:
    """T31: CDC-style SCD1 merge (MERGE INTO semantics) as a FULL OUTER join.

    The change set is derived from 1998 orders (spend delta per customer,
    plus synthetic brand-new keys to exercise the insert path). Each output
    row is classified insert/update/keep and the merged balance computed
    with COALESCE — the standard engine-agnostic upsert plan. One shuffle
    on the merge key; at warehouse scale the delta side is typically small
    enough for a broadcast, which AQE picks automatically.
    """
    delta = (
        orders.filter(F.col("o_orderdate") >= "1998-01-01")
        .groupBy(F.col("o_custkey").alias("custkey"))
        .agg(F.sum(cents(F.col("o_totalprice"))).alias("delta_cents"))
    )
    inserts = delta.filter(F.col("custkey") % 100 == 0).select(
        (F.col("custkey") + 1000000).alias("custkey"), "delta_cents"
    )
    changes = delta.unionByName(inserts)
    base = customer.select(
        F.col("c_custkey").alias("custkey"),
        cents(F.col("c_acctbal")).alias("balance_cents"),
    )
    merged = base.join(changes, "custkey", "full_outer").select(
        "custkey",
        F.when(F.col("balance_cents").isNull(), "insert")
        .when(F.col("delta_cents").isNull(), "keep")
        .otherwise("update")
        .alias("merge_action"),
        (
            F.coalesce(F.col("balance_cents"), F.lit(0))
            + F.coalesce(F.col("delta_cents"), F.lit(0))
        ).alias("new_balance_cents"),
    )
    return merged.groupBy("merge_action").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("new_balance_cents").alias("sum_balance_cents"),
        F.min("custkey").alias("min_custkey"),
        F.max("custkey").alias("max_custkey"),
    )


def grouping_sets_mixed(orders: DataFrame) -> DataFrame:
    """T32: explicit GROUPING SETS — a non-hierarchical mix ((priority),
    (status), ()) that neither ROLLUP nor CUBE expresses, plus grouping_id
    to disambiguate aggregate rows.

    Like T7/T14 this compiles to one Expand + ONE aggregation pass — the
    input is scanned once no matter how many sets are requested.
    """
    agg = orders.groupingSets(
        [["o_orderpriority"], ["o_orderstatus"], []],
        "o_orderpriority",
        "o_orderstatus",
    ).agg(
        F.grouping_id().alias("gid"),
        F.count(F.lit(1)).alias("n_orders"),
        F.sum(cents(F.col("o_totalprice"))).alias("total_cents"),
    )
    return agg.select(
        F.coalesce(F.col("o_orderpriority"), F.lit("(all)")).alias("o_orderpriority"),
        F.coalesce(F.col("o_orderstatus"), F.lit("(all)")).alias("o_orderstatus"),
        "gid",
        "n_orders",
        "total_cents",
    )


def events_transition_matrix(events: DataFrame) -> DataFrame:
    """T33: event-transition matrix (Markov next-step counts per user
    journey) — the path-analysis primitive behind funnel dashboards.

    One window pass (lead over each user's time-ordered events) then a
    count per (from, to) pair; the matrix is |event_types|² rows, so the
    final aggregation is tiny at any scale. Transition probability is one
    final division against the per-source window total.
    """
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    steps = events.select(
        "user_id",
        F.col("event_type").alias("from_event"),
        F.lead("event_type").over(w).alias("to_event"),
    ).filter(F.col("to_event").isNotNull())
    counts = steps.groupBy("from_event", "to_event").agg(
        F.count(F.lit(1)).alias("n_transitions"),
        F.countDistinct("user_id").alias("n_users"),
    )
    wt = Window.partitionBy("from_event")
    return counts.select(
        "from_event",
        "to_event",
        "n_transitions",
        "n_users",
        (F.col("n_transitions") / F.sum("n_transitions").over(wt)).alias("p_transition"),
    )


def orders_seasonality(orders: DataFrame) -> DataFrame:
    """T34: monthly revenue with calendar-correct MoM/YoY deltas.

    The month key is ``year*12 + month`` so RANGE frames address exact
    calendar offsets: ``RANGE BETWEEN 12 PRECEDING AND 12 PRECEDING`` reads
    the same month last year (NULL if absent) — positional ``lag`` would
    silently mis-align across gaps. One aggregation + one window over the
    (tiny) month series.
    """
    month_idx = (F.year("o_orderdate") * 12 + F.month("o_orderdate") - 1).cast("long")
    monthly = orders.groupBy(month_idx.alias("month_idx")).agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum(cents(F.col("o_totalprice"))).alias("revenue_cents"),
    )
    w1 = Window.orderBy("month_idx").rangeBetween(-1, -1)
    w12 = Window.orderBy("month_idx").rangeBetween(-12, -12)
    return monthly.select(
        "month_idx",
        (F.col("month_idx") / 12).cast("long").alias("year"),
        (F.col("month_idx") % 12 + 1).alias("month"),
        "n_orders",
        "revenue_cents",
        (F.col("revenue_cents") - F.first("revenue_cents").over(w1)).alias("mom_delta_cents"),
        (F.col("revenue_cents") - F.first("revenue_cents").over(w12)).alias("yoy_delta_cents"),
    )


def merge_scd2_customers(customer: DataFrame, orders: DataFrame) -> DataFrame:
    """T35: SCD TYPE-2 history build — the versioned-dimension companion
    to T31's SCD1 upsert.

    Each of a customer's orders is a change event observed over time; the
    output is the customer's full version history: one row per version
    with [valid_from, valid_to) epoch-ms bounds (valid_to NULL on the
    open/current version), an is_current flag, and the tracked attribute
    (cumulative spend in cents) as of that version. One window pass per
    customer — lead() supplies the expiry bound, the running sum supplies
    the state — partitioned on the high-cardinality natural key, so
    partitions stay small at any scale.
    """
    ev = orders.join(
        customer.select("c_custkey"), F.col("o_custkey") == F.col("c_custkey")
    ).select(
        F.col("o_custkey").alias("custkey"),
        F.unix_millis(F.col("o_orderdate").cast("timestamp")).alias("valid_from_ms"),
        F.col("o_orderkey").alias("event_id"),
        cents(F.col("o_totalprice")).alias("spend_cents"),
    )
    w = Window.partitionBy("custkey").orderBy("valid_from_ms", "event_id")
    hist = ev.select(
        "custkey",
        F.row_number().over(w).cast("long").alias("version"),
        "valid_from_ms",
        F.lead("valid_from_ms").over(w).alias("valid_to_ms"),
        F.sum("spend_cents")
        .over(w.rowsBetween(Window.unboundedPreceding, 0))
        .alias("balance_cents"),
    )
    return hist.select(
        "*", F.col("valid_to_ms").isNull().alias("is_current")
    )


def customers_monthly_cohorts(orders: DataFrame) -> DataFrame:
    """T36: monthly active/new/cumulative-distinct customers — the
    incremental-distinct pattern.

    A naive cumulative COUNT(DISTINCT) re-scans all history for every
    month; the scalable identity is ``distinct-to-date = running sum of
    first-seen counts``: each customer contributes to exactly the month
    of their first order, so one min-aggregation + a running sum over the
    tiny month axis replaces month× re-scans. The only corpus-wide work
    is two map-side-combined aggregations; the final window runs over
    #months rows (unpartitioned is fine at any corpus size — the axis,
    not the data, bounds it).
    """
    mo = (F.year("o_orderdate") * 100 + F.month("o_orderdate")).cast("long")
    per = orders.select(F.col("o_custkey").alias("custkey"), mo.alias("mo"))
    monthly = per.groupBy("mo").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.countDistinct("custkey").alias("n_active_customers"),
    )
    first_mo = per.groupBy("custkey").agg(F.min("mo").alias("mo"))
    news = first_mo.groupBy("mo").agg(F.count(F.lit(1)).alias("n_new_customers"))
    joined = monthly.join(news, "mo", "left").select(
        "mo",
        "n_orders",
        "n_active_customers",
        F.coalesce(F.col("n_new_customers"), F.lit(0)).alias("n_new_customers"),
    )
    w = Window.orderBy("mo").rowsBetween(Window.unboundedPreceding, 0)
    return joined.select(
        "*", F.sum("n_new_customers").over(w).alias("cum_distinct_customers")
    )


def q9_profit(
    lineitem: DataFrame,
    orders: DataFrame,
    part: DataFrame,
    supplier: DataFrame,
    nation: DataFrame,
    name_fragment: str = "bolt",
) -> DataFrame:
    """T37: product-line profit per supplier nation × year (TPC-H Q9
    shape, adapted — the driver schema has no partsupp, so the per-unit
    supply cost is proxied as 10% of ``p_retailprice``, kept exact in
    integer cents: ``cost_cents = floor(p_retailprice·10 + 0.5) · qty``).

    Plan shape is the Q9 classic: the selective part filter broadcasts
    into lineitem FIRST (cuts the fact stream before any wide join),
    supplier/nation are broadcast dims, and orders joins on the already
    filtered stream; one aggregation pass over exact cents.
    """
    named_parts = part.filter(F.col("p_name").contains(name_fragment)).select(
        "p_partkey",
        F.floor(F.col("p_retailprice") * 10 + F.lit(0.5)).alias("unit_cost_cents"),
    )
    supp_nation = supplier.join(
        F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey")
    ).select("s_suppkey", F.col("n_name").alias("supp_nation"))
    amount = revenue_cents() - F.col("unit_cost_cents") * F.col("l_quantity").cast(
        "long"
    )
    j = (
        lineitem.join(F.broadcast(named_parts), F.col("l_partkey") == F.col("p_partkey"))
        .join(F.broadcast(supp_nation), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(
            orders.select("o_orderkey", F.year("o_orderdate").cast("long").alias("o_year")),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
    )
    return (
        j.groupBy("supp_nation", "o_year")
        .agg(
            F.sum(amount).alias("profit_cents"),
            F.count(F.lit(1)).alias("n_lineitems"),
        )
        .orderBy("supp_nation", "o_year")
    )


def q11_important_parts(lineitem: DataFrame, part: DataFrame) -> DataFrame:
    """T38: parts whose revenue exceeds a fraction of the GLOBAL total
    (TPC-H Q11 shape, adapted — no partsupp, so lineitem revenue plays
    stock value): per-part aggregate, then a HAVING against a scalar
    subquery over the whole table.

    The Q11 plan lesson: the global total must be computed ONCE and
    broadcast (a 1-row frame through BroadcastNestedLoopJoin), never a
    window over the per-part frame (a windowless SUM would funnel every
    per-part row through a single partition). Threshold integer-exact via
    cross-multiplication: ``revenue_cents * 2000 > total_cents``; `share`
    is one final division of exact BIGINTs.
    """
    per_part = (
        lineitem.join(
            F.broadcast(part.select("p_partkey", "p_brand")),
            F.col("l_partkey") == F.col("p_partkey"),
        )
        .groupBy("p_partkey", "p_brand")
        .agg(
            F.sum(revenue_cents()).alias("revenue_cents"),
            F.count(F.lit(1)).alias("n_lineitems"),
        )
    )
    total = per_part.agg(F.sum("revenue_cents").alias("total_cents"))
    return (
        per_part.join(F.broadcast(total))
        .filter(F.col("revenue_cents") * 2000 > F.col("total_cents"))
        .select(
            "p_partkey",
            "p_brand",
            "revenue_cents",
            "n_lineitems",
            (F.col("revenue_cents") / F.col("total_cents")).alias("share"),
        )
        .orderBy(F.col("revenue_cents").desc(), "p_partkey")
    )


def customers_abc_pareto(orders: DataFrame) -> DataFrame:
    """T39: ABC / Pareto classification of customers by revenue — the
    warehouse "80/15/5" cut: rank customers by total order value, take
    running revenue share, class A while cumulative ≤ 80% of total, B to
    95%, C after.

    Shape lesson: the classification needs a GLOBAL total (broadcast
    1-row frame, like T38) and a cumulative sum over the revenue-ranked
    customer list, one window over ALL customers. The class cut is
    integer-exact via cross-multiplication (`5·cum ≤ 4·total`, `20·cum ≤
    19·total`), no float boundary anywhere.
    """
    per_cust = orders.groupBy("o_custkey").agg(
        F.sum(cents(F.col("o_totalprice"))).alias("revenue_cents"),
        F.count(F.lit(1)).alias("n_orders"),
    )
    total = per_cust.agg(F.sum("revenue_cents").alias("total_cents"))
    w = Window.orderBy(F.col("revenue_cents").desc(), "o_custkey")
    ranked = (
        per_cust.join(F.broadcast(total))
        .withColumn("revenue_rank", F.row_number().over(w).cast("long"))
        .withColumn(
            "cum_cents",
            F.sum("revenue_cents").over(w.rowsBetween(Window.unboundedPreceding, 0)),
        )
    )
    return ranked.select(
        "o_custkey",
        "n_orders",
        "revenue_cents",
        "revenue_rank",
        "cum_cents",
        # try_divide: an all-zero-revenue table must yield NULL shares,
        # not an ANSI DIVIDE_BY_ZERO abort (matches DuckDB's NULL).
        F.try_divide(F.col("cum_cents"), F.col("total_cents")).alias("cum_share"),
        F.when(F.col("cum_cents") * 5 <= F.col("total_cents") * 4, "A")
        .when(F.col("cum_cents") * 20 <= F.col("total_cents") * 19, "B")
        .otherwise("C")
        .alias("abc_class"),
    )


def customers_rfm_segments(orders: DataFrame) -> DataFrame:
    """T40: RFM customer segmentation — the classic recency / frequency /
    monetary scoring: per-customer last-order date, order count and
    revenue, each scored into quintiles (NTILE with full deterministic
    tie-breaks), concatenated into the RFM code and bucketed into the
    standard marketing segments.

    Shape lesson: three NTILE windows over the PER-CUSTOMER aggregate
    (orders ≫ customers), revenue in exact integer cents, recency
    ordered so quintile 5 = most recent; segment rules are
    data-independent CASE logic on the scores.
    """
    per_cust = orders.groupBy("o_custkey").agg(
        F.max("o_orderdate").alias("last_order"),
        F.count(F.lit(1)).alias("n_orders"),
        F.sum(cents(F.col("o_totalprice"))).alias("revenue_cents"),
    )
    r_w = Window.orderBy("last_order", "o_custkey")
    f_w = Window.orderBy("n_orders", "o_custkey")
    m_w = Window.orderBy("revenue_cents", "o_custkey")
    scored = per_cust.select(
        "o_custkey",
        "n_orders",
        "revenue_cents",
        F.ntile(5).over(r_w).cast("long").alias("r_score"),
        F.ntile(5).over(f_w).cast("long").alias("f_score"),
        F.ntile(5).over(m_w).cast("long").alias("m_score"),
    )
    return scored.select(
        "*",
        (F.col("r_score") * 100 + F.col("f_score") * 10 + F.col("m_score")).alias(
            "rfm_code"
        ),
        F.when(
            (F.col("r_score") >= 4) & (F.col("f_score") >= 4) & (F.col("m_score") >= 4),
            "champion",
        )
        .when((F.col("r_score") >= 4) & (F.col("f_score") <= 2), "new")
        .when((F.col("r_score") <= 2) & (F.col("f_score") >= 4), "at_risk")
        .when((F.col("r_score") <= 2) & (F.col("f_score") <= 2), "hibernating")
        .otherwise("regular")
        .alias("segment"),
    )


def q2_min_cost_supplier(
    lineitem: DataFrame,
    part: DataFrame,
    supplier: DataFrame,
    nation: DataFrame,
    region: DataFrame,
    part_type: str = "STANDARD",
    region_name: str = "EUROPE",
) -> DataFrame:
    """T41: minimum-cost supplier per part (TPC-H Q2 shape, adapted — no
    partsupp, so the per-(part, supplier) unit cost is the MINIMUM
    observed ``l_extendedprice / l_quantity`` across their lineitems, in
    exact integer cents). Completes the full 22/22 TPC-H shape coverage.

    The Q2 plan lesson is the correlated-min + join-back: per-pair costs
    aggregate once, the per-part minimum computes over that (small) pair
    table, and the winning pair re-joins by EQUALITY on (part, cost) with
    a deterministic supplier tie-break — never a correlated subquery per
    row. Region restriction and part filter broadcast into the pair
    stream first.
    """
    region_suppliers = (
        supplier.join(
            F.broadcast(
                nation.join(
                    F.broadcast(region.filter(F.col("r_name") == region_name)),
                    F.col("n_regionkey") == F.col("r_regionkey"),
                ).select("n_nationkey", "n_name")
            ),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .select("s_suppkey", "s_name", "s_acctbal", "n_name")
    )
    typed_parts = part.filter(F.col("p_type") == part_type).select(
        "p_partkey", "p_size"
    )
    unit_cost = F.floor(
        F.col("l_extendedprice") / F.col("l_quantity") * 100 + F.lit(0.5)
    )
    pair_costs = (
        lineitem.join(F.broadcast(typed_parts), F.col("l_partkey") == F.col("p_partkey"))
        .join(
            F.broadcast(region_suppliers.select("s_suppkey")),
            F.col("l_suppkey") == F.col("s_suppkey"),
            "leftsemi",
        )
        .groupBy("p_partkey", "p_size", F.col("l_suppkey").alias("s_suppkey"))
        .agg(F.min(unit_cost).alias("cost_cents"))
    )
    w = Window.partitionBy("p_partkey").orderBy("cost_cents", "s_suppkey")
    best = (
        pair_costs.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .drop("rn")
    )
    return (
        best.join(F.broadcast(region_suppliers), "s_suppkey")
        .select(
            "p_partkey",
            "p_size",
            "s_suppkey",
            "s_name",
            "n_name",
            "s_acctbal",
            "cost_cents",
        )
        .orderBy(F.col("s_acctbal").desc(), "n_name", "s_name", "p_partkey")
        .limit(100)
    )


def events_rolling_wau(events: DataFrame, window_days: int = 7) -> DataFrame:
    """T42: EXACT rolling 7-day distinct actives per day (rolling WAU) —
    the retention dashboard's companion to T28's cohort matrix.

    Exact rolling distinct doesn't fit a RANGE frame (sets don't subtract),
    and re-scanning a 7-day window per day is 7× the work; the scalable
    exact form is the WINDOW-COVERAGE EXPLODE: collapse to distinct
    (user, active_day) pairs once, explode each pair into the
    ``window_days`` report days it contributes to, and count distinct
    users per report day — bounded 7× fan-out of the (small) distinct-pair
    set, one final distinct aggregation. Report days beyond the data's
    last day are clipped so every emitted day is fully defined.
    """
    from ..sources.telemetry import normalize_events

    ev = normalize_events(events)
    pairs = ev.select(
        "user_id", F.expr("unix_millis(ts) DIV 86400000").alias("day")
    ).distinct()
    span = pairs.agg(F.max("day").alias("last_day"))
    covered = (
        pairs.join(F.broadcast(span))
        .select(
            "user_id",
            F.explode(
                F.sequence(
                    F.col("day"),
                    F.least(
                        F.col("day") + (window_days - 1), F.col("last_day")
                    ),
                )
            ).alias("report_day"),
        )
    )
    return (
        covered.groupBy("report_day")
        .agg(F.countDistinct("user_id").alias("rolling_active_users"))
        .select(
            (F.col("report_day") * 86400000).alias("report_day_ms"),
            "rolling_active_users",
        )
    )


def orders_market_basket(
    lineitem: DataFrame, part: DataFrame, min_support: int = 20
) -> DataFrame:
    """T44: market-basket association mining over order co-purchases —
    support / confidence / lift per unordered BRAND pair (Agrawal-style
    association rules, the retail-analytics classic the TPC-H schema was
    built to resemble; lift is X14's log-free PMI ordering applied to
    baskets: lift > 1 ⇔ the pair co-occurs more than independence
    predicts).

    Scale shape: baskets = each order's DISTINCT brands after a BROADCAST
    dim join (part is dimension-sized); pair generation is a WITHIN-ORDER
    self-join — fan-out bounded by max-basket-size² per order (≤ 13
    items → ≤ 78 pairs on the driver data), never corpus²; the support
    filter prunes before the (broadcast-sized) item/basket total joins.
    All counts are BIGINT; confidence and lift are final IEEE divisions
    of exact integer products.
    """
    baskets = (
        lineitem.select("l_orderkey", "l_partkey")
        .join(
            F.broadcast(part.select("p_partkey", "p_brand")),
            F.col("l_partkey") == F.col("p_partkey"),
        )
        .select("l_orderkey", "p_brand")
        .distinct()
    )
    nb = baskets.agg(F.countDistinct("l_orderkey").alias("n_baskets"))
    items = baskets.groupBy("p_brand").agg(F.count(F.lit(1)).alias("n_item"))
    pairs = (
        baskets.alias("a")
        .join(
            baskets.alias("b"),
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.p_brand") < F.col("b.p_brand")),
        )
        .groupBy(
            F.col("a.p_brand").alias("brand_a"),
            F.col("b.p_brand").alias("brand_b"),
        )
        .agg(F.count(F.lit(1)).alias("n_co"))
        .filter(F.col("n_co") >= min_support)
    )
    ia = items.select(F.col("p_brand").alias("brand_a"), F.col("n_item").alias("n_a"))
    ib = items.select(F.col("p_brand").alias("brand_b"), F.col("n_item").alias("n_b"))
    return (
        pairs.join(F.broadcast(ia), "brand_a")
        .join(F.broadcast(ib), "brand_b")
        .crossJoin(F.broadcast(nb))
        .select(
            "brand_a",
            "brand_b",
            "n_co",
            "n_a",
            "n_b",
            "n_baskets",
            (F.col("n_co") / F.col("n_a")).alias("confidence_a_b"),
            (F.col("n_co") / F.col("n_b")).alias("confidence_b_a"),
            (
                (F.col("n_baskets") * F.col("n_co"))
                / (F.col("n_a") * F.col("n_b"))
            ).alias("lift"),
        )
    )


def orders_ship_latency(lineitem: DataFrame, orders: DataFrame) -> DataFrame:
    """T45: order→ship latency distribution per order priority — the
    fulfillment-SLA panel (does '1-URGENT' actually ship faster, and how
    heavy is the tail): p25/p50/p75/p99 of days-to-ship plus the share
    breaching a 120-day SLA.

    Exactness: latency_days = (ms(l_shipdate) − ms(o_orderdate)) DIV
    86400000 — every timestamp in the corpus is midnight-aligned (checked:
    zero non-multiples of a day), so the quotient is exact and trunc-vs-
    floor division cannot diverge between engines even on the negative
    latencies the synthetic data contains. Percentiles are the shared
    lower-order-statistic convention, tie-broken by the unique
    (l_orderkey, l_linenumber); the SLA share is one division of BIGINT
    counts.

    Scale shape: one fact⋈fact equi-join on orderkey (co-partitioned
    shuffle; the bucketed-table layout in sources/bucketed.py makes it
    zero-Exchange when pre-bucketed), one ranked pass per priority
    (5 groups, the shared `_ranked_with_n` window), one rollup.
    """
    from .observability import _ranked_with_n
    j = lineitem.select("l_orderkey", "l_linenumber", "l_shipdate").join(
        orders.select("o_orderkey", "o_orderdate", "o_orderpriority"),
        F.col("l_orderkey") == F.col("o_orderkey"),
    )
    base = j.select(
        "o_orderpriority",
        "l_orderkey",
        "l_linenumber",
        F.expr(
            "(unix_millis(CAST(l_shipdate AS TIMESTAMP)) - unix_millis(CAST(o_orderdate AS TIMESTAMP))) DIV 86400000"
        ).alias("lat_days"),
    )
    ranked = _ranked_with_n(
        base,
        "o_orderpriority",
        ["lat_days", "l_orderkey", "l_linenumber"],
    )

    def pick(p, name):
        return F.max(
            F.when(
                F.col("rn") - 1 == F.floor((F.col("n") - 1) * p), F.col("lat_days")
            )
        ).alias(name)

    return ranked.groupBy("o_orderpriority").agg(
        F.max("n").alias("n_lines"),
        pick(0.25, "p25_days"),
        pick(0.5, "p50_days"),
        pick(0.75, "p75_days"),
        pick(0.99, "p99_days"),
        F.max("lat_days").alias("max_days"),
        F.sum(F.when(F.col("lat_days") > 120, 1).otherwise(0))
        .cast("long")
        .alias("n_over_sla"),
    ).select(
        "o_orderpriority",
        "n_lines",
        "p25_days",
        "p50_days",
        "p75_days",
        "p99_days",
        "max_days",
        "n_over_sla",
        (F.col("n_over_sla") / F.col("n_lines")).alias("sla_breach_share"),
    )


def orders_backlog_timeline(lineitem: DataFrame, orders: DataFrame) -> DataFrame:
    """T46: OPEN-ORDER BACKLOG over time — the operations panel "how many
    orders are in flight each day": an order opens at ``o_orderdate`` and
    closes after its LAST lineitem ships; backlog(day) = running sum of
    (opens − closes) — the SWEEP-LINE interval-overlap formulation (O47's
    +1/−1 trick on business data: no day×orders re-scan, no interval
    self-join).

    Exactness: days are epoch-day quotients of midnight-aligned
    timestamps (the T45 contract — trunc-vs-floor cannot diverge);
    opens/closes/backlog are BIGINT counts. Orders with no lineitems
    never close, so they are excluded by the inner join (documented
    modeling choice — the synthetic corpus has none).

    Scale shape: one per-order max-shipdate aggregation (co-partitioned
    with the join on orderkey; zero-Exchange when pre-bucketed via S6),
    one tiny per-day delta rollup (days ≪ orders), and ONE cumulative
    window over the bounded day axis (~2.5k rows at any corpus size —
    the axis is calendar-bounded, so the single-partition window is a
    constant, not a scale risk).
    """
    day = lambda c: F.expr(  # noqa: E731
        f"unix_millis(CAST({c} AS TIMESTAMP)) DIV 86400000"
    )
    last_ship = lineitem.groupBy("l_orderkey").agg(
        F.max("l_shipdate").alias("last_ship")
    )
    o = orders.select("o_orderkey", "o_orderdate").join(
        last_ship, F.col("o_orderkey") == F.col("l_orderkey")
    )
    deltas = o.select(
        day("o_orderdate").alias("day_num"),
        F.lit(1).cast("long").alias("opened"),
        F.lit(0).cast("long").alias("closed"),
    ).unionByName(
        o.select(
            (day("last_ship") + 1).alias("day_num"),
            F.lit(0).cast("long").alias("opened"),
            F.lit(1).cast("long").alias("closed"),
        )
    )
    per_day = deltas.groupBy("day_num").agg(
        F.sum("opened").cast("long").alias("n_opened"),
        F.sum("closed").cast("long").alias("n_closed"),
    )
    w = Window.orderBy("day_num").rowsBetween(Window.unboundedPreceding, 0)
    return per_day.withColumn(
        "backlog",
        F.sum(F.col("n_opened") - F.col("n_closed")).over(w).cast("long"),
    ).select("day_num", "n_opened", "n_closed", "backlog")


def events_funnel_windowed(events: DataFrame, window_ms: int = 21600_000) -> DataFrame:
    """T47: TIME-CONSTRAINED funnel (ClickHouse ``windowFunnel`` semantics)
    — signup → click → purchase must all land within ``window_ms`` of the
    CHAIN'S first step, not merely in order (T10 checks order only).

    Sequence matching without self-joins: two window passes over the same
    (user_id, ev_ms) sort — Spark plans ONE Exchange+Sort and evaluates
    both window specs on it.

      pass 1:  ls(row)  = latest signup strictly before this row
               (RANGE … AND 1 PRECEDING on integer ms — tie-exclusion is
               value-based, so Spark and DuckDB cannot disagree on peers)
      pass 2:  best(row) = max over prior CLICK rows of their ls
      depth≥2 for a user  ⟺  ∃ click c:     c  − ls(c)   ≤ W
      depth≥3 for a user  ⟺  ∃ purchase p:  p  − best(p) ≤ W

    Optimality argument (why "latest prior signup" suffices): for a fixed
    purchase p we need ∃ s < c < p with p ≤ s + W; for any candidate c
    the best witness s is the LATEST signup before c, so scanning ls(c)
    maxima loses no chains.  All flags and counts are BIGINT; the two
    conversion shares are exact IEEE divisions of those counts.

    Scale shape: one shuffle on user_id shared by both window specs and
    the final per-user aggregate; per-user sequences are session-sized
    (bounded), the global rollup is a 1-row reduce.
    """
    ev = normalize_events(events).select(
        "user_id",
        "event_type",
        F.unix_millis(F.col("ts")).alias("ev_ms"),
    )
    w_prior = (
        Window.partitionBy("user_id")
        .orderBy("ev_ms")
        .rangeBetween(Window.unboundedPreceding, -1)
    )
    p1 = ev.withColumn(
        "ls_ms",
        F.max(F.when(F.col("event_type") == "signup", F.col("ev_ms"))).over(w_prior),
    )
    p2 = p1.withColumn(
        "best_ms",
        F.max(F.when(F.col("event_type") == "click", F.col("ls_ms"))).over(w_prior),
    )
    w = F.lit(int(window_ms))
    per_user = p2.groupBy("user_id").agg(
        F.max(F.when(F.col("event_type") == "signup", 1).otherwise(0)).alias("d1"),
        F.max(
            F.when(
                (F.col("event_type") == "click")
                & F.col("ls_ms").isNotNull()
                & (F.col("ev_ms") - F.col("ls_ms") <= w),
                1,
            ).otherwise(0)
        ).alias("d2"),
        F.max(
            F.when(
                (F.col("event_type") == "purchase")
                & F.col("best_ms").isNotNull()
                & (F.col("ev_ms") - F.col("best_ms") <= w),
                1,
            ).otherwise(0)
        ).alias("d3"),
    )
    return per_user.select(
        F.count(F.lit(1)).cast("long").alias("n_users"),
        F.sum("d1").cast("long").alias("n_signup"),
        F.sum("d2").cast("long").alias("n_click_in_window"),
        F.sum("d3").cast("long").alias("n_full_funnel_in_window"),
    ).select(
        "*",
        F.try_divide(F.col("n_click_in_window"), F.col("n_signup")).alias("conv_click"),
        F.try_divide(F.col("n_full_funnel_in_window"), F.col("n_signup")).alias(
            "conv_full"
        ),
    )


def events_attribution_multitouch(
    events: DataFrame, lookback_ms: int = 7 * 86400000
) -> DataFrame:
    """T48: MULTI-TOUCH attribution — the marketing-analytics shape T8's
    last-touch as-of join can't express: every click a user made in the
    7-day lookback before a purchase shares the purchase's value. Credit
    is split EXACTLY in integer cents by the largest-remainder rule: each
    touch gets the FLOOR share ``(cents - pmod(cents, n)) DIV n`` and the
    first ``pmod(cents, n)`` touches by recency one extra cent. The split
    is SIGN-SAFE — ``pmod`` is non-negative and the subtracted dividend
    is exactly divisible, so truncating (Spark DIV) and flooring (DuckDB
    ``//``) quotients agree even for negative cents (refunds /
    chargebacks), and per-purchase credit CONSERVATION stays an identity:
    ``n*base + pmod == cents`` ⇒ ``Σcredit == purchase_cents``
    bit-for-bit for ANY sign (pinned in tests; a float 1/n split leaks
    cents and double-counts revenue downstream). Touches are
    position-labeled for position-weighted (U-shaped / last-touch)
    models; a purchase with a SINGLE touch is labeled the distinct
    ``'only'`` class — it is simultaneously first and last, and folding
    it into either would mis-credit 40/20/40-style weighting schemes.

    Scale shape: one equi-join on user_id (clicks × purchases fan out
    only within a user's own activity) with the lookback as a pushed
    range predicate; ranking windows partition per purchase — bounded by
    that purchase's touch count, never by table size. All-BIGINT money;
    full hash-exact oracle.
    """
    events = normalize_events(events)
    ms = F.unix_millis(F.col("ts"))
    clicks = events.filter(F.col("event_type") == "click").select(
        "user_id",
        F.col("event_id").alias("click_event_id"),
        ms.alias("click_ms"),
    )
    purchases = events.filter(F.col("event_type") == "purchase").select(
        "user_id",
        F.col("event_id").alias("purchase_event_id"),
        ms.alias("purchase_ms"),
        cents(F.col("value")).cast("long").alias("purchase_cents"),
    )
    touched = purchases.join(clicks, "user_id").filter(
        (F.col("click_ms") < F.col("purchase_ms"))
        & (F.col("click_ms") >= F.col("purchase_ms") - F.lit(int(lookback_ms)))
    )
    w = Window.partitionBy("purchase_event_id").orderBy(
        F.col("click_ms").desc(), F.col("click_event_id").desc()
    )
    ranked = touched.withColumns(
        {
            "touch_rank": F.row_number().over(w).cast("long"),
            "n_touches": F.count(F.lit(1))
            .over(Window.partitionBy("purchase_event_id"))
            .cast("long"),
        }
    )
    return ranked.select(
        "purchase_event_id",
        "user_id",
        "purchase_ms",
        "purchase_cents",
        "click_event_id",
        "click_ms",
        "touch_rank",
        "n_touches",
        F.when(F.col("n_touches") == 1, "only")
        .when(F.col("touch_rank") == F.col("n_touches"), "first")
        .when(F.col("touch_rank") == 1, "last")
        .otherwise("middle")
        .alias("position"),
        (
            F.expr(
                "(purchase_cents - pmod(purchase_cents, n_touches)) DIV n_touches"
            )
            + F.when(
                F.col("touch_rank") <= F.pmod("purchase_cents", "n_touches"),
                1,
            ).otherwise(0)
        )
        .cast("long")
        .alias("credit_cents"),
    )
