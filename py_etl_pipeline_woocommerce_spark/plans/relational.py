"""Relational breadth: grouped aggregation, multi-way joins, window
functions, rollups, semi-joins — the general-OLAP surface a warehouse
engine needs beyond the reference's six dashboard queries.

All money math is exact decimal (see ``functions.money``); every
ordered LIMIT / window has a total ordering so results are
deterministic at any parallelism.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.frames import local_checkpoint
from ..functions.stats import pctl_fn

from ..catalog import load_table
from ..functions.money import dec_money, dec_rate, disc_price, gross_price


def pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1-style pricing summary over lineitem.

    One scan, map-side partial agg, 4-group shuffle; the shipdate
    filter pushes down to parquet. Averages are exact-sum / count in
    double.

    Money contract: sum_base_price / sum_disc_price / sum_charge are
    the exact DECIMAL sums ROUNDED TO CENTS before the double cast
    (up to 0.005 off the exact scale-4/scale-6 sum) — the trade that
    keeps the boundary cast bit-identical across engines past the
    2^53 unscaled-value line (see the inline comment below).
    Downstream consumers of sum_charge get a cents-rounded total,
    not the raw scale-6 sum.
    """
    lineitem = load_table(spark, sf_dir, "lineitem")
    qty = F.col("l_quantity")
    base = dec_money("l_extendedprice")
    agg = (
        lineitem.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(qty).cast("bigint").alias("sum_qty"),
            F.sum(base).alias("_sum_base"),
            F.sum(disc_price()).alias("_sum_disc"),
            F.sum(gross_price()).alias("_sum_charge"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )
    cnt = F.col("count_order")
    # money sums leave decimal space ROUNDED TO CENTS first: a scale-6
    # decimal sum's unscaled value passes 2^53 around 9e9 money units,
    # where DuckDB's int128/10^6 double conversion and Java's
    # correctly-rounded BigDecimal.doubleValue diverge by 1 ulp (seen
    # at the r11 sf1 gate). At scale 2 the unscaled cents stay exactly
    # representable up to ~9e13 units, so the boundary cast is
    # bit-identical on both engines at any realistic SF.
    return agg.select(
        "l_returnflag",
        "l_linestatus",
        "sum_qty",
        F.round("_sum_base", 2).cast("double").alias("sum_base_price"),
        F.round("_sum_disc", 2).cast("double").alias("sum_disc_price"),
        F.round("_sum_charge", 2).cast("double").alias("sum_charge"),
        (F.col("sum_qty").cast("double") / cnt).alias("avg_qty"),
        (F.col("_sum_base").cast("double") / cnt).alias("avg_price"),
        "count_order",
    )


def regional_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q5-style: 1995 net revenue by region/nation of the customer.

    lineitem⋈orders is the one big shuffle (AQE may turn it
    shuffle-hash); nation/region broadcast, customer AQE-sized (it
    grows with SF — the catalog contract). The orderdate
    range filter prunes at the orders scan before the join.
    """
    lineitem = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1995-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-01-01").cast("timestamp"))
    ).select("o_orderkey", "o_custkey")
    customer = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")

    joined = (
        lineitem.join(orders, lineitem.l_orderkey == orders.o_orderkey)
        .join(customer, F.col("o_custkey") == customer.c_custkey)
        .join(F.broadcast(nation), F.col("c_nationkey") == nation.n_nationkey)
        .join(F.broadcast(region), F.col("n_regionkey") == region.r_regionkey)
    )
    return (
        joined.groupBy(F.col("r_name").alias("region"), F.col("n_name").alias("nation"))
        # round-to-cents before the double boundary (the engine-wide
        # fixed-cardinality money contract; see pricing_summary)
        .agg(F.round(F.sum(disc_price()), 2).cast("double").alias("revenue"))
    )


def top_orders_per_customer(spark: SparkSession, sf_dir: str, k: int = 3) -> DataFrame:
    """Top-k orders per customer by total price — window row_number.

    Partition-local sort after one hash shuffle on the customer key;
    ties broken by order key so the window is a total order.
    """
    orders = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey")
    )
    return (
        orders.withColumn("order_rank", F.row_number().over(w))
        .filter(F.col("order_rank") <= k)
        .select(
            F.col("o_custkey").alias("customer_id"),
            F.col("o_orderkey").alias("order_id"),
            F.col("o_totalprice").alias("total_price"),
            "order_rank",
        )
    )


def sales_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP region -> nation on net revenue (grouping-set agg).

    NULL grouping slots are materialized as 'ALL' via GROUPING() so
    the output is NULL-free and hash-stable.
    """
    lineitem = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    customer = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    joined = (
        lineitem.join(orders, lineitem.l_orderkey == orders.o_orderkey)
        .join(customer, F.col("o_custkey") == customer.c_custkey)
        .join(F.broadcast(nation), F.col("c_nationkey") == nation.n_nationkey)
        .join(F.broadcast(region), F.col("n_regionkey") == region.r_regionkey)
    )
    agg = joined.rollup("r_name", "n_name").agg(
        # round-to-cents before the double boundary (money contract)
        F.round(F.sum(disc_price()), 2).cast("double").alias("net"),
        F.grouping("r_name").alias("_gr"),
        F.grouping("n_name").alias("_gn"),
    )
    return agg.select(
        F.when(F.col("_gr") == 1, F.lit("ALL")).otherwise(F.col("r_name")).alias("region"),
        F.when(F.col("_gn") == 1, F.lit("ALL")).otherwise(F.col("n_name")).alias("nation"),
        "net",
    )


def order_priority_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q4-style semi-join: count orders per priority that have at
    least one refunded line (EXISTS -> left_semi, no row explosion)."""
    orders = load_table(spark, sf_dir, "orders")
    refunded = (
        load_table(spark, sf_dir, "lineitem")
        .filter(F.col("l_returnflag") == "R")
        .select(F.col("l_orderkey").alias("o_orderkey"))
    )
    return (
        orders.join(refunded, "o_orderkey", "left_semi")
        .groupBy(F.col("o_orderpriority").alias("priority"))
        .agg(F.count(F.lit(1)).alias("n_orders"))
    )


def shipping_priority(spark: SparkSession, sf_dir: str, limit: int = 10) -> DataFrame:
    """Q3-style shipping priority: top unshipped-revenue orders for one
    market segment as of a cutoff date.

    customer is AQE-broadcast after the segment filter when it fits;
    the orderdate /
    shipdate range predicates push down to both fact scans before the
    lineitem⋈orders shuffle. LIMIT has a total order (revenue desc,
    order id) so the top-N is unique.
    """
    cutoff = F.lit("1995-03-15").cast("timestamp")
    customer = (
        load_table(spark, sf_dir, "customer")
        .filter(F.col("c_mktsegment") == "BUILDING")
        .select("c_custkey")
    )
    orders = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderdate") < cutoff)
        .select("o_orderkey", "o_custkey", "o_orderdate")
    )
    lineitem = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > cutoff
    )
    joined = lineitem.join(
        orders, lineitem.l_orderkey == orders.o_orderkey
    ).join(customer, F.col("o_custkey") == customer.c_custkey)
    return (
        joined.groupBy(
            F.col("l_orderkey").alias("order_id"),
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("order_date"),
        )
        .agg(F.sum(disc_price()).cast("double").alias("revenue"))
        .orderBy(F.col("revenue").desc(), F.col("order_id"))
        .limit(limit)
    )


def discount_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q6-style forecast: revenue delta from discounts in a band.

    Scan-only query — every predicate (shipdate range, discount band,
    quantity cap) reaches the parquet reader as a pushed filter; the
    whole plan is scan → filter → partial agg → single-row result.
    Discount compares in DECIMAL so 0.05/0.07 are exact band edges.
    """
    lineitem = load_table(spark, sf_dir, "lineitem")
    d = dec_rate("l_discount")
    lo = F.lit("0.05").cast("decimal(4,2)")
    hi = F.lit("0.07").cast("decimal(4,2)")
    filtered = lineitem.filter(
        (F.col("l_shipdate") >= F.lit("1995-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-01-01").cast("timestamp"))
        & d.between(lo, hi)
        & (F.col("l_quantity") < 24)
    )
    return filtered.agg(
        # round-to-cents before the double boundary (money contract)
        F.round(F.sum(dec_money("l_extendedprice") * d), 2)
        .cast("double")
        .alias("revenue")
    )


def customer_order_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q13-style: histogram of orders-per-customer including the
    zero-order tail (left join, count of non-null keys)."""
    customer = load_table(spark, sf_dir, "customer").select("c_custkey")
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    per_customer = (
        customer.join(orders, customer.c_custkey == orders.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("n_orders"))
    )
    return per_customer.groupBy("n_orders").agg(
        F.count(F.lit(1)).alias("n_customers")
    )


def top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q15-style: supplier(s) achieving the maximum shipped revenue in
    a quarter — revenue per supplier, then an equality filter against
    the global max via a window (exact DECIMAL compare, so ties are
    exact and the result is deterministic)."""
    lineitem = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1995-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1995-04-01").cast("timestamp"))
    )
    # global max as a 1-row aggregate broadcast back in — NOT an
    # unpartitioned window: Window.partitionBy() funnels the whole
    # supplier-grain frame into ONE task (the file's important_parts/
    # idle_customers pattern; the exact DECIMAL compare keeps ties
    # deterministic either way)
    rev = lineitem.groupBy("l_suppkey").agg(
        F.sum(disc_price()).alias("_rev_dec")
    ).transform(local_checkpoint, eager=False)
    gmax = rev.agg(F.max("_rev_dec").alias("_max"))
    best = rev.join(F.broadcast(gmax)).filter(
        F.col("_rev_dec") == F.col("_max")
    )
    supplier = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return best.join(
        supplier, best.l_suppkey == supplier.s_suppkey
    ).select(
        F.col("s_suppkey").alias("supplier_id"),
        "s_name",
        F.col("_rev_dec").cast("double").alias("total_revenue"),
    )


def volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q7-style volume shipping: revenue between two trading nations
    by ship year, both directions.

    lineitem⋈orders is the single fact-fact shuffle; supplier,
    both nation copies broadcast, supplier/customer AQE-sized. The
    nation-pair filter
    is applied right after the broadcast joins so the big shuffle
    carries only matching rows.
    """
    lineitem = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    supplier = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    customer = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    nation = load_table(spark, sf_dir, "nation")
    n1 = nation.select(
        F.col("n_nationkey").alias("_sn_key"), F.col("n_name").alias("supp_nation")
    )
    n2 = nation.select(
        F.col("n_nationkey").alias("_cn_key"), F.col("n_name").alias("cust_nation")
    )
    pair = (
        ((F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2"))
        | ((F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1"))
    )
    joined = (
        lineitem.join(supplier, lineitem.l_suppkey == supplier.s_suppkey)
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("_sn_key"))
        .join(orders, lineitem.l_orderkey == orders.o_orderkey)
        .join(customer, F.col("o_custkey") == customer.c_custkey)
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("_cn_key"))
        .filter(pair)
    )
    return (
        joined.groupBy(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").cast("int").alias("ship_year"),
        )
        .agg(F.sum(disc_price()).cast("double").alias("revenue"))
    )


def market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q8-style market share: NATION_3 suppliers' share of ASIA-region
    customer revenue per order year.

    Numerator and denominator are exact DECIMAL sums; the share is a
    single IEEE division of the two doubles at the output boundary —
    deterministic under any partitioning.
    """
    lineitem = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderdate"
    )
    supplier = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    customer = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    supp_nation = nation.select(
        F.col("n_nationkey").alias("_sn_key"), F.col("n_name").alias("supp_nation")
    )
    cust_nation = nation.select(
        F.col("n_nationkey").alias("_cn_key"), F.col("n_regionkey").alias("_cn_region")
    )
    joined = (
        lineitem.join(orders, lineitem.l_orderkey == orders.o_orderkey)
        .join(customer, F.col("o_custkey") == customer.c_custkey)
        .join(F.broadcast(cust_nation), F.col("c_nationkey") == F.col("_cn_key"))
        .join(F.broadcast(region), F.col("_cn_region") == region.r_regionkey)
        .join(supplier, lineitem.l_suppkey == supplier.s_suppkey)
        .join(F.broadcast(supp_nation), F.col("s_nationkey") == F.col("_sn_key"))
    )
    target = F.when(F.col("supp_nation") == "NATION_3", disc_price()).otherwise(
        F.lit(0).cast("decimal(18,2)")
    )
    agg = joined.groupBy(
        F.year("o_orderdate").cast("int").alias("order_year")
    ).agg(
        F.sum(target).cast("double").alias("nation_revenue"),
        F.sum(disc_price()).cast("double").alias("total_revenue"),
    )
    return agg.withColumn(
        "share", F.col("nation_revenue") / F.col("total_revenue")
    )


def promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q14-style promo revenue percentage for one ship-quarter.

    part AQE-broadcast when it fits; shipdate range pushes to the
    lineitem scan. The
    percent is one double division of two exact decimal sums.
    """
    lineitem = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1995-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1995-04-01").cast("timestamp"))
    )
    part = load_table(spark, sf_dir, "part").select("p_partkey", "p_type")
    joined = lineitem.join(part, lineitem.l_partkey == part.p_partkey)
    promo = F.when(F.col("p_type") == "PROMO", disc_price()).otherwise(
        F.lit(0).cast("decimal(18,2)")
    )
    agg = joined.agg(
        F.sum(promo).cast("double").alias("promo_rev"),
        F.sum(disc_price()).cast("double").alias("total_rev"),
    )
    return agg.withColumn(
        "promo_pct", F.lit(100.0) * F.col("promo_rev") / F.col("total_rev")
    )


def large_volume_orders(spark: SparkSession, sf_dir: str, min_qty: int = 300) -> DataFrame:
    """Q18-style large-volume orders: orders whose total line quantity
    exceeds ``min_qty``, with customer attribution.

    The HAVING prunes before the orders/customer joins, so only the
    tiny qualifying set rides the joins (orders join keyed, customer
    AQE-broadcast when small). Total order: totalprice desc,
    order id.
    """
    lineitem = load_table(spark, sf_dir, "lineitem")
    big = (
        lineitem.groupBy("l_orderkey")
        .agg(F.sum(F.col("l_quantity").cast("decimal(18,2)")).alias("_qty"))
        .filter(F.col("_qty") > min_qty)
    )
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderdate", "o_totalprice"
    )
    customer = load_table(spark, sf_dir, "customer").select("c_custkey", "c_name")
    joined = big.join(orders, big.l_orderkey == orders.o_orderkey).join(
        customer, F.col("o_custkey") == customer.c_custkey
    )
    return joined.select(
        F.col("c_name").alias("customer_name"),
        F.col("o_custkey").alias("customer_id"),
        F.col("o_orderkey").alias("order_id"),
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("order_date"),
        F.col("o_totalprice").alias("total_price"),
        F.col("_qty").cast("bigint").alias("total_qty"),
    )


def supplier_part_breadth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q16-style: distinct suppliers shipping each (brand, type) combo,
    excluding one brand.

    part AQE-broadcast onto lineitem when it fits, then a
    two-column distinct count —
    Spark plans it as partial distinct + final agg (expand + two-stage
    shuffle), no driver-side work.
    """
    lineitem = load_table(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey")
    part = load_table(spark, sf_dir, "part").filter(
        F.col("p_brand") != "Brand#9"
    ).select("p_partkey", "p_brand", "p_type")
    joined = lineitem.join(part, lineitem.l_partkey == part.p_partkey)
    return (
        joined.groupBy(F.col("p_brand").alias("brand"), F.col("p_type").alias("part_type"))
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
    )


def important_parts(spark: SparkSession, sf_dir: str, fraction_denom: int = 2000) -> DataFrame:
    """Q11-style important stock: parts whose revenue exceeds
    1/``fraction_denom`` of total revenue.

    The global total is a 1-row aggregate broadcast into the compare;
    the threshold compare is ``part_rev * denom > total`` — an exact
    integer-by-decimal multiply, so no floating-point epsilon at the
    cut line (ties resolve identically on any engine).
    """
    lineitem = load_table(spark, sf_dir, "lineitem")
    per_part = lineitem.groupBy("l_partkey").agg(
        F.sum(disc_price()).alias("_rev")
    )
    total = per_part.agg(F.sum("_rev").alias("_total"))
    return (
        per_part.join(F.broadcast(total))
        .filter(F.col("_rev") * fraction_denom > F.col("_total"))
        .select(
            F.col("l_partkey").alias("part_id"),
            F.col("_rev").cast("double").alias("part_revenue"),
        )
    )


def idle_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q22-style: well-funded customers with no orders since 1998
    ("lapsed"), by nation.

    "Well-funded" = acctbal above the mean positive acctbal; the mean
    compare is ``acctbal * n > sum`` (exact decimal × count), so the
    threshold is engine-exact. No-recent-orders is a left anti join —
    the scalable EXISTS-negation (no row explosion, AQE-broadcastable);
    the date filter pushes to the orders scan so the anti-join build
    side only carries recent keys.
    """
    customer = load_table(spark, sf_dir, "customer")
    bal = dec_money("c_acctbal")
    pos = customer.filter(bal > 0).agg(
        F.sum(bal).alias("_sum"), F.count(F.lit(1)).alias("_n")
    )
    orders = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderdate") >= F.lit("1998-01-01").cast("timestamp"))
        .select("o_custkey")
    )
    rich = customer.join(F.broadcast(pos)).filter(bal * F.col("_n") > F.col("_sum"))
    idle = rich.join(orders, rich.c_custkey == orders.o_custkey, "left_anti")
    return idle.groupBy(F.col("c_nationkey").cast("int").alias("nation_id")).agg(
        F.count(F.lit(1)).alias("n_customers"),
        F.sum(bal).cast("double").alias("total_acctbal"),
    )


def min_cost_supplier(spark: SparkSession, sf_dir: str, max_size: int = 10) -> DataFrame:
    """Q2-style min-cost supplier: for each small part, the supplier(s)
    that shipped it at the lowest extended price.

    The per-part minimum is a window over the (already part-filtered)
    lineitem — one shuffle on partkey; the equality filter keeps exact
    DECIMAL ties like the reference's correlated subquery. part and
    supplier AQE-sized (it grows with SF).
    """
    part = load_table(spark, sf_dir, "part").filter(
        F.col("p_size") <= max_size
    ).select("p_partkey", "p_name")
    lineitem = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_suppkey", dec_money("l_extendedprice").alias("_price")
    )
    small = lineitem.join(part, lineitem.l_partkey == part.p_partkey)
    w = Window.partitionBy("l_partkey")
    best = small.withColumn("_min", F.min("_price").over(w)).filter(
        F.col("_price") == F.col("_min")
    )
    supplier = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        best.join(supplier, best.l_suppkey == supplier.s_suppkey)
        .select(
            F.col("l_partkey").alias("part_id"),
            F.col("p_name").alias("part_name"),
            F.col("s_suppkey").alias("supplier_id"),
            F.col("s_name").alias("supplier_name"),
            F.col("_price").cast("double").alias("best_price"),
        )
        .distinct()
    )


def returnflag_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Net revenue by return flag — deliberately a 3-key aggregation,
    the worst-case skew shape (every row maps to one of 3 reducers).

    Uses the two-phase salted aggregation from ``operators.skew``:
    partial sums over (key, salt) spread each hot key across 32
    reducers, the final reduce handles 3×32 tiny rows. Identical
    result to a plain groupBy (exact decimal), proven by the oracle.
    """
    from ..operators.skew import salted_sum

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_returnflag", disc_price().alias("net_line")
    )
    out = salted_sum(li, ["l_returnflag"], "net_line", n_salts=32)
    return out.select(
        F.col("l_returnflag").alias("return_flag"),
        # round-to-cents before the double boundary (money contract)
        F.round(F.col("sum_net_line"), 2).cast("double").alias("net"),
    )


def product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q9-style product profit by supplier nation and year.

    The testdata has no partsupp, so unit cost is modeled as
    0.6 × p_retailprice (exact decimal — the cost basis is a constant
    factor, which preserves Q9's join/agg shape). part and supplier
    AQE-broadcast when they fit; lineitem⋈orders is the one
    fact-fact shuffle.
    """
    lineitem = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    part = load_table(spark, sf_dir, "part").select(
        "p_partkey", F.col("p_retailprice").cast("decimal(12,2)").alias("_retail")
    )
    supplier = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    nation = load_table(spark, sf_dir, "nation").select(
        "n_nationkey", F.col("n_name").alias("supp_nation")
    )
    cost = (
        F.col("_retail")
        * F.col("l_quantity").cast("decimal(9,0)")
        * F.lit("0.6").cast("decimal(2,1)")
    )
    joined = (
        lineitem.join(part, lineitem.l_partkey == part.p_partkey)
        .join(supplier, lineitem.l_suppkey == supplier.s_suppkey)
        .join(F.broadcast(nation), F.col("s_nationkey") == nation.n_nationkey)
        .join(orders, lineitem.l_orderkey == orders.o_orderkey)
    )
    return (
        joined.groupBy(
            "supp_nation", F.year("o_orderdate").cast("int").alias("order_year")
        )
        .agg(F.sum(disc_price() - cost).cast("double").alias("profit"))
    )


def returned_item_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q10-style: top 20 customers by revenue lost to returns in one
    quarter, with nation attribution.

    Return-flag and date filters push to the two scans, so the
    lineitem⋈orders shuffle carries only returned lines of one
    quarter; nation broadcast, customer AQE-sized. Total order:
    revenue
    desc, customer id.
    """
    lineitem = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_returnflag") == "R"
    )
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1995-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1995-04-01").cast("timestamp"))
    ).select("o_orderkey", "o_custkey")
    customer = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_nationkey", "c_acctbal"
    )
    nation = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    joined = (
        lineitem.join(orders, lineitem.l_orderkey == orders.o_orderkey)
        .join(customer, F.col("o_custkey") == customer.c_custkey)
        .join(F.broadcast(nation), F.col("c_nationkey") == nation.n_nationkey)
    )
    agg = joined.groupBy(
        F.col("c_custkey").alias("customer_id"),
        F.col("c_name").alias("customer_name"),
        F.col("n_name").alias("nation"),
        F.col("c_acctbal").alias("acctbal"),
    ).agg(F.sum(disc_price()).alias("_rev"))
    return (
        agg.orderBy(F.col("_rev").desc(), "customer_id")
        .limit(20)
        .withColumn("revenue", F.col("_rev").cast("double"))
        .drop("_rev")
    )


def linestatus_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q12-style priority matrix by line status (testdata has no
    shipmode column; linestatus plays its role).

    One fact-fact join, then a 2-group agg with conditional counts —
    the high/low split happens map-side inside the partial agg, so
    only 2 rows ever shuffle.
    """
    lineitem = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linestatus"
    )
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority"
    )
    joined = lineitem.join(orders, lineitem.l_orderkey == orders.o_orderkey)
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return joined.groupBy(F.col("l_linestatus").alias("line_status")).agg(
        F.sum(F.when(high, 1).otherwise(0)).alias("high_priority_lines"),
        F.sum(F.when(high, 0).otherwise(1)).alias("low_priority_lines"),
    )


def small_qty_revenue(spark: SparkSession, sf_dir: str, brand: str = "Brand#1") -> DataFrame:
    """Q17-style: yearly-averaged revenue from small-quantity orders of
    one brand's parts.

    The per-part mean is a window over the brand-filtered lineitem
    (the part filter prunes before the shuffle; AQE broadcasts the
    filtered dim when it fits). The "qty < 0.2×avg"
    compare is integerized to ``5·qty·n < sum`` — exact, so both
    engines cut the same rows. Output is one row; /7.0 happens in
    double at the boundary.
    """
    part = load_table(spark, sf_dir, "part").filter(
        F.col("p_brand") == brand
    ).select("p_partkey")
    lineitem = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey",
        F.col("l_quantity").cast("bigint").alias("_qty"),
        dec_money("l_extendedprice").alias("_price"),
    )
    small = lineitem.join(part, lineitem.l_partkey == part.p_partkey)
    w = Window.partitionBy("l_partkey")
    flagged = small.withColumn("_sum_q", F.sum("_qty").over(w)).withColumn(
        "_n", F.count(F.lit(1)).over(w)
    )
    kept = flagged.filter(
        F.col("_qty") * 5 * F.col("_n") < F.col("_sum_q")
    )
    return kept.agg(
        # the divisor is TPC-H Q17's FIXED constant (the benchmark's
        # 7-year data span), kept verbatim for query parity — it is
        # NOT derived from this corpus's actual shipdate span, so
        # read avg_yearly as the Q17 metric, not a true per-year mean
        (F.sum("_price").cast("double") / F.lit(7.0)).alias("avg_yearly")
    )


def disjunctive_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q19-style revenue under an OR of (brand, size, quantity) triples.

    The disjunction references both part and lineitem columns, so it
    evaluates after the broadcast join; per-branch part predicates
    could be pushed as a brand IN-list — Catalyst derives that
    automatically from the OR (constraint propagation).
    """
    lineitem = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand", "p_size")
    qty = F.col("l_quantity")
    cond = (
        ((F.col("p_brand") == "Brand#1") & F.col("p_size").between(1, 5) & qty.between(1, 11))
        | ((F.col("p_brand") == "Brand#2") & F.col("p_size").between(1, 10) & qty.between(10, 20))
        | ((F.col("p_brand") == "Brand#3") & F.col("p_size").between(1, 15) & qty.between(20, 30))
    )
    joined = lineitem.join(part, lineitem.l_partkey == part.p_partkey)
    return joined.filter(cond).agg(
        F.sum(disc_price()).cast("double").alias("revenue")
    )


def dominant_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q20-flavored: suppliers whose shipped quantity of a part is more
    than twice the part's mean per-supplier share (the testdata has no
    partsupp/availqty, so "dominant share of shipped volume" replaces
    "excess stock"). Mean-relative, so the cut stays meaningful at any
    scale factor.

    Pre-aggregating to (part, supplier) before the per-part window
    shrinks the window input from N rows to distinct pairs; the
    ``supp·n > 2·total`` compare is integer-exact. supplier
    AQE-sized
    at the end, onto the small qualifying set.
    """
    lineitem = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_suppkey", F.col("l_quantity").cast("bigint").alias("_qty")
    )
    pair = lineitem.groupBy("l_partkey", "l_suppkey").agg(
        F.sum("_qty").alias("supp_qty")
    )
    w = Window.partitionBy("l_partkey")
    flagged = pair.withColumn("part_qty", F.sum("supp_qty").over(w)).withColumn(
        "_n_supp", F.count(F.lit(1)).over(w)
    )
    dominant = flagged.filter(
        F.col("supp_qty") * F.col("_n_supp") > F.col("part_qty") * 2
    ).drop("_n_supp")
    supplier = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return dominant.join(
        supplier, dominant.l_suppkey == supplier.s_suppkey
    ).select(
        F.col("l_partkey").alias("part_id"),
        F.col("l_suppkey").alias("supplier_id"),
        F.col("s_name").alias("supplier_name"),
        "supp_qty",
        "part_qty",
    )


def supplier_quartiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Account-balance quartiles per nation (NTILE window) with
    per-quartile balance aggregates.

    Quartile assignment orders by (acctbal, suppkey) — a total order,
    so NTILE boundaries are identical on any engine/parallelism. One
    shuffle on nationkey for the window, the quartile agg reuses the
    same partitioning.
    """
    supplier = load_table(spark, sf_dir, "supplier")
    bal = dec_money("s_acctbal")
    w = Window.partitionBy("s_nationkey").orderBy(bal, F.col("s_suppkey"))
    tiled = supplier.withColumn("quartile", F.ntile(4).over(w))
    return (
        tiled.groupBy(
            F.col("s_nationkey").cast("int").alias("nation_id"), "quartile"
        )
        .agg(
            F.count(F.lit(1)).alias("n_suppliers"),
            F.min(bal).cast("double").alias("min_bal"),
            F.max(bal).cast("double").alias("max_bal"),
            F.sum(bal).cast("double").alias("total_bal"),
        )
    )


def segment_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue share per market segment — ratio-to-report: each
    segment's net revenue over the all-segments total.

    The total comes from a window over the (≤5-row) aggregated frame,
    not the fact table, so the unpartitioned window is a no-op at any
    scale. Share is one double division of two exact decimal sums.
    """
    lineitem = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    customer = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    joined = lineitem.join(
        orders, lineitem.l_orderkey == orders.o_orderkey
    ).join(customer, F.col("o_custkey") == customer.c_custkey)
    agg = joined.groupBy(F.col("c_mktsegment").alias("segment")).agg(
        F.sum(disc_price()).alias("_rev")
    )
    w = Window.partitionBy()
    return agg.select(
        "segment",
        F.col("_rev").cast("double").alias("revenue"),
        (F.col("_rev").cast("double") / F.sum("_rev").over(w).cast("double")).alias(
            "share"
        ),
    )


def revenue_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Net revenue pivoted to one column per return flag, rows by line
    status.

    The pivot values are declared explicitly (A/N/R) so Spark skips
    the extra distinct-values pass and plans a single conditional
    aggregation — identical shape to the hand-written CASE sums in
    the oracle, one scan + 2-row shuffle.
    """
    lineitem = load_table(spark, sf_dir, "lineitem")
    return (
        lineitem.groupBy(F.col("l_linestatus").alias("line_status"))
        .pivot("l_returnflag", ["A", "N", "R"])
        .agg(F.sum(disc_price()).cast("double"))
        .withColumnsRenamed({"A": "net_A", "N": "net_N", "R": "net_R"})
    )


def customer_year_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set-operation breadth: customers ordering in BOTH 1995 and 1996
    (INTERSECT) vs only in 1995 (EXCEPT), tagged by cohort.

    Both set ops hash-shuffle the deduped key sets (Spark plans them
    as distinct + semi/anti join) — at scale that's one shuffle per
    side on an already-aggregated frame, not on orders.
    """
    orders = load_table(spark, sf_dir, "orders")

    def year_keys(y: int) -> DataFrame:
        return (
            orders.filter(
                (F.col("o_orderdate") >= F.lit(f"{y}-01-01").cast("timestamp"))
                & (F.col("o_orderdate") < F.lit(f"{y + 1}-01-01").cast("timestamp"))
            )
            .select(F.col("o_custkey").alias("customer_id"))
            .distinct()
        )
    y95, y96 = year_keys(1995), year_keys(1996)
    both = y95.intersect(y96).select(
        F.lit("both_years").alias("cohort"), "customer_id"
    )
    only95 = y95.exceptAll(y96).select(
        F.lit("only_1995").alias("cohort"), "customer_id"
    )
    return both.unionByName(only95)


def sales_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over (status, priority): every grouping-set combination in
    one pass, NULL slots materialized as 'ALL'.

    Spark plans CUBE as a single Expand + aggregation — 4 grouping
    sets cost one scan, not four. Counts and exact-decimal totals per
    cell.
    """
    orders = load_table(spark, sf_dir, "orders")
    agg = orders.cube("o_orderstatus", "o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_orders"),
        # the scale-2 sum is already cents — ROUND is an identity kept
        # for the engine-wide money-contract shape (round, then cast)
        F.round(F.sum(dec_money("o_totalprice")), 2)
        .cast("double")
        .alias("total_price"),
        F.grouping("o_orderstatus").alias("_gs"),
        F.grouping("o_orderpriority").alias("_gp"),
    )
    return agg.select(
        F.when(F.col("_gs") == 1, F.lit("ALL"))
        .otherwise(F.col("o_orderstatus"))
        .alias("status"),
        F.when(F.col("_gp") == 1, F.lit("ALL"))
        .otherwise(F.col("o_orderpriority"))
        .alias("priority"),
        "n_orders",
        "total_price",
    )


def fuzzy_part_names(spark: SparkSession, sf_dir: str, max_dist: int = 3) -> DataFrame:
    """Fuzzy string-match join: distinct part names within edit
    distance ``max_dist``, blocked on the trailing token.

    The blocking join is the scale story: candidates come from an
    equi-join on a cheap blocking key (last word — for messier data,
    phonetic codes or length buckets), so Levenshtein — O(len²) per
    pair — only runs on block-mates, never the full cross product.
    Distinct-names first: the compare space is name-cardinality, not
    row-cardinality.
    """
    names = (
        load_table(spark, sf_dir, "part")
        .select(F.col("p_name").alias("name"))
        .distinct()
        .withColumn("block", F.element_at(F.split(F.col("name"), " "), -1))
    )
    a = names.select(F.col("name").alias("name_a"), "block")
    b = names.select(F.col("name").alias("name_b"), "block")
    return (
        a.join(b, "block")
        .filter(F.col("name_a") < F.col("name_b"))
        .withColumn("edit_dist", F.levenshtein("name_a", "name_b"))
        .filter(F.col("edit_dist") <= max_dist)
        .select("name_a", "name_b", "edit_dist")
    )


def late_suppliers(spark: SparkSession, sf_dir: str, limit: int = 20) -> DataFrame:
    """TPC-H Q21-shape "sole blame" query: suppliers who were the only
    supplier with a returned ('R') line on a finalized multi-supplier
    order, ranked by how many such lines they own. (The testdata
    lineitem carries no commitdate/receiptdate, so the return flag
    plays Q21's late-delivery role.)

    Spark-first shape: Q21's correlated EXISTS + NOT EXISTS would cost
    two extra lineitem self-joins; instead ONE per-order aggregate
    (distinct suppliers, distinct failing suppliers) carries both
    predicates — blamed lines join it on orderkey (n_supp > 1,
    n_fail = 1 ⇒ the failing supplier is this line's). One lineitem
    shuffle on orderkey, orders filter pushed to its scan, supplier
    dim AQE-broadcast when it fits.
    """
    lineitem = load_table(spark, sf_dir, "lineitem")
    orders = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderstatus") == "F")
        .select("o_orderkey")
    )
    supplier = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey", F.col("s_name").alias("supplier_name")
    )
    per_order = lineitem.groupBy("l_orderkey").agg(
        F.countDistinct("l_suppkey").alias("n_supp"),
        F.countDistinct(
            F.when(F.col("l_returnflag") == "R", F.col("l_suppkey"))
        ).alias("n_fail"),
    )
    blamed = (
        lineitem.filter(F.col("l_returnflag") == "R")
        .select("l_orderkey", "l_suppkey")
        .join(
            per_order.filter((F.col("n_supp") > 1) & (F.col("n_fail") == 1)),
            "l_orderkey",
        )
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
    )
    agg = blamed.groupBy("l_suppkey").agg(F.count(F.lit(1)).alias("numwait"))
    return (
        agg.join(supplier, agg.l_suppkey == supplier.s_suppkey)
        .orderBy(F.col("numwait").desc(), F.col("supplier_name"))
        .limit(limit)
        .select("supplier_name", "numwait")
    )


def customer_ltv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running customer lifetime value: cumulative order total per
    customer in (order_date, order_id) order — the window-frame
    (ROWS UNBOUNDED PRECEDING) shape dashboards use for LTV curves.

    One shuffle partitioned by customer (high-cardinality, no skew);
    the frame ordering is total (date, then key), so the running sum
    is deterministic at any parallelism. Money accumulates in exact
    decimal and casts to double at the boundary.
    """
    orders = load_table(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return orders.select(
        F.col("o_custkey").alias("customer_id"),
        F.col("o_orderkey").alias("order_id"),
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("order_date"),
        F.sum(dec_money("o_totalprice")).over(w).cast("double").alias("ltv"),
    )


def customer_order_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-order gap statistics per repeat customer — the purchase-
    cadence profile behind churn/reorder dashboards (days between
    consecutive orders via window lag, then integer-exact aggregates).

    One shuffle on the customer key; the lag ordering
    (o_orderdate, o_orderkey) is total, so same-day orders resolve
    deterministically (gap 0). Gaps are integer day diffs — sums and
    extremes are engine-exact; the mean is one double division.
    """
    orders = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    # Filter on the lag BEFORE deriving the diff (a filter on the
    # derived column re-evaluates datediff per predicate reference),
    # and keep grouping on o_custkey so the aggregate REUSES the
    # window's hash partitioning — renaming first inserts a second
    # exchange (alias defeats outputPartitioning matching).
    gaps = (
        orders.select(
            "o_custkey",
            "o_orderdate",
            F.lag("o_orderdate").over(w).alias("_prev"),
        )
        .filter(F.col("_prev").isNotNull())
        .select(
            "o_custkey", F.datediff("o_orderdate", "_prev").alias("gap_days")
        )
    )
    return (
        gaps.groupBy("o_custkey")
        .agg(
            (F.count(F.lit(1)) + 1).alias("n_orders"),
            F.sum("gap_days").alias("total_gap_days"),
            F.min("gap_days").alias("min_gap_days"),
            F.max("gap_days").alias("max_gap_days"),
        )
        .select(
            F.col("o_custkey").alias("customer_id"),
            "n_orders",
            "total_gap_days",
            "min_gap_days",
            "max_gap_days",
            (
                F.col("total_gap_days").cast("double")
                / (F.col("n_orders") - 1)
            ).alias("avg_gap_days"),
        )
    )


def supplier_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Supplier revenue standing within its nation: percent_rank and
    cume_dist over exact-decimal revenue — the remaining ANSI window
    distribution functions (NTILE and ratio-to-report live in
    ``supplier_quartiles`` / ``segment_share``).

    Both functions are pure rank arithmetic over the ordering, and the
    ordering key is the exact DECIMAL revenue — ties collapse to
    identical ranks on any engine, so the doubles they emit are
    bit-identical. The window runs over supplier-grain aggregates
    (one row per supplier), never the fact table.
    """
    lineitem = load_table(spark, sf_dir, "lineitem")
    supplier = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_name", "s_nationkey"
    )
    nation = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    rev = lineitem.groupBy("l_suppkey").agg(
        F.sum(disc_price()).alias("_rev_dec")
    )
    joined = (
        rev.join(supplier, rev.l_suppkey == supplier.s_suppkey)
        .join(F.broadcast(nation), supplier.s_nationkey == nation.n_nationkey)
    )
    w = Window.partitionBy("n_name").orderBy("_rev_dec")
    return joined.select(
        F.col("n_name").alias("nation"),
        F.col("s_suppkey").alias("supplier_id"),
        F.col("s_name").alias("supplier_name"),
        F.col("_rev_dec").cast("double").alias("revenue"),
        F.percent_rank().over(w).alias("pct_rank"),
        F.cume_dist().over(w).alias("cume"),
    )


def rfm_segments(
    spark: SparkSession, sf_dir: str, exact: bool = False
) -> DataFrame:
    """RFM customer segmentation — the classic marketing cut the
    reference's dashboard stops short of: per customer, Recency
    (days since last order, vs the corpus's max order date),
    Frequency (order count), Monetary (exact-decimal lifetime
    spend), each scored into quartiles, plus the combined ``rfm``
    code ("444" = recent, frequent, big-ticket).

    Shape: ONE order scan → customer-grain aggregate (the only
    corpus-sized shuffle); a 1-row max-date broadcast. Recency is
    integer epoch-day subtraction; monetary stays DECIMAL until the
    output boundary.

    DEFAULTS TO THE SKETCH PATH on the quartile cuts: one
    ``percentile_approx`` aggregate produces the three thresholds
    per metric (mergeable GK), broadcast into a score projection —
    the ``dsir_select_threshold`` / ``perplexity_bucket_mix``
    construction, no global sort at any customer count (threshold
    ties share a score). ``exact=True`` scores with three ntile
    windows over the customer-grain frame, each ordered by a total
    order with the custkey tie-break so quartile membership is
    parallelism- and engine-exact — use for oracle verification; a
    global ntile sorts the customer frame on one partition. Same
    output schema either way.

    Score direction: 4 = best (most recent / most orders / most
    spend) — recency ntiles ascending on days-since (small = recent
    = high score via (5 − ntile)); frequency/monetary ntile
    ascending so the top quartile scores 4.
    """
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_custkey").isNotNull()
    )
    day = F.datediff("o_orderdate", F.lit("1970-01-01").cast("timestamp"))
    # per_cust feeds BOTH the 1-row maxday aggregate and the feats
    # join, and column pruning makes the two subtrees differ (the
    # maxday branch drops frequency/spend) so exchange reuse cannot
    # deduplicate them — the pin runs the orders scan + customer
    # shuffle once (aggregated frame, the multi-consumer convention)
    per_cust = orders.groupBy(F.col("o_custkey").alias("cust_id")).agg(
        F.max(day).alias("_last_day"),
        F.count(F.lit(1)).alias("frequency"),
        F.sum(dec_money("o_totalprice")).alias("_spend"),
    ).transform(local_checkpoint, eager=False)
    maxday = per_cust.agg(F.max("_last_day").alias("_corpus_last"))
    feats = per_cust.join(F.broadcast(maxday)).select(
        "cust_id",
        (F.col("_corpus_last") - F.col("_last_day"))
        .cast("bigint")
        .alias("recency_days"),
        "frequency",
        F.col("_spend").cast("double").alias("monetary"),
        F.col("_spend").alias("_spend_dec"),
    )
    if exact:
        w_r = Window.orderBy(F.col("recency_days"), F.col("cust_id"))
        w_f = Window.orderBy(F.col("frequency"), F.col("cust_id"))
        w_m = Window.orderBy(F.col("_spend_dec"), F.col("cust_id"))
        scored = feats.select(
            "cust_id",
            "recency_days",
            "frequency",
            "monetary",
            (F.lit(5) - F.ntile(4).over(w_r)).alias("r_score"),
            F.ntile(4).over(w_f).alias("f_score"),
            F.ntile(4).over(w_m).alias("m_score"),
        )
    else:
        th = feats.agg(
            F.expr(
                "percentile_approx(recency_days, array(0.25, 0.5, 0.75))"
            ).alias("_tr"),
            F.expr(
                "percentile_approx(frequency, array(0.25, 0.5, 0.75))"
            ).alias("_tf"),
            F.expr(
                "percentile_approx(monetary, array(0.25, 0.5, 0.75))"
            ).alias("_tm"),
        )

        def _q(cuts: str, col: str):
            return (
                F.size(F.filter(cuts, lambda c: c < F.col(col))) + 1
            )

        scored = feats.join(F.broadcast(th)).select(
            "cust_id",
            "recency_days",
            "frequency",
            "monetary",
            (F.lit(5) - _q("_tr", "recency_days")).alias("r_score"),
            _q("_tf", "frequency").alias("f_score"),
            _q("_tm", "monetary").alias("m_score"),
        )
    return scored.withColumn(
        "rfm",
        F.concat_ws(
            "", F.col("r_score"), F.col("f_score"), F.col("m_score")
        ),
    )


def basket_pairs(
    spark: SparkSession,
    sf_dir: str,
    min_pair_orders: int = 3,
    topk: int = 50,
) -> DataFrame:
    """Market-basket association pairs — the "frequently bought
    together" analysis a WooCommerce shop runs next (the reference's
    dashboard stops at per-product revenue): for part pairs
    co-occurring in ≥ ``min_pair_orders`` orders, support,
    directional confidence, and lift, top-``topk`` by lift.

    Shape: one lineitem scan → ONE order-keyed shuffle; the pair join
    is per-ORDER, so fan-out is C(items-per-order, 2), a basket-sized
    constant at any scale (never part×part). Per-part order counts
    join back into the pair frame. The support cut is an integer
    compare BEFORE any float; lift is one rounded division, ranked
    with part-id tie-breaks — engine-exact. (The a-priori
    candidate-pruning literature exists for baskets of hundreds;
    order baskets are single digits, so the exact pair join IS the
    scalable plan.)

    The order-keyed repartition comes BEFORE the dedupe (the
    copurchase_edges r13 device): HashPartitioning(l_orderkey)
    satisfies the dedupe's clustering on (order, part) AND the
    per-order self-join AND the n_orders distinct, so all three run
    exchange-free off one shuffle — distinct-first re-exchanged both
    join sides on the order key (two extra corpus-sized shuffles).
    """
    li = (
        load_table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .repartition("l_orderkey")
        .dropDuplicates(["l_orderkey", "l_partkey"])
    )
    n_orders = li.select("l_orderkey").distinct().agg(
        F.count(F.lit(1)).alias("n_orders")
    )
    per_part = li.groupBy("l_partkey").agg(F.count(F.lit(1)).alias("n_part"))
    a = li.select(F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("part_a"))
    b = li.select(F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("part_b"))
    pairs = (
        a.join(b, "o")
        .filter(F.col("part_a") < F.col("part_b"))
        .groupBy("part_a", "part_b")
        .agg(F.count(F.lit(1)).alias("n_both"))
        .filter(F.col("n_both") >= min_pair_orders)
    )
    na = per_part.select(
        F.col("l_partkey").alias("part_a"), F.col("n_part").alias("n_a")
    )
    nb = per_part.select(
        F.col("l_partkey").alias("part_b"), F.col("n_part").alias("n_b")
    )
    # na/nb are PER-PART aggregates — they GROW with SF (the
    # catalog broadcast contract allows forced hints only on
    # constant-size region/nation): unhinted, AQE broadcasts them
    # while they fit and falls back to a shuffle join past the 8 GB
    # ceiling instead of failing the job
    scored = (
        pairs.join(na, "part_a")
        .join(nb, "part_b")
        .join(F.broadcast(n_orders))
        .select(
            "part_a",
            "part_b",
            "n_both",
            F.round(F.col("n_both") / F.col("n_orders"), 6).alias("support"),
            F.round(F.col("n_both") / F.col("n_a"), 6).alias("conf_a_to_b"),
            # double BEFORE the multiplies: bigint n_both x n_orders
            # (and n_a x n_b) overflow int64 under ANSI at exactly the
            # basket counts a 100 TB order log reaches — the hot_keys
            # x_uniform guard, same class
            F.round(
                (F.col("n_both").cast("double") * F.col("n_orders"))
                / (F.col("n_a").cast("double") * F.col("n_b")),
                6,
            ).alias("lift"),
        )
    )
    top = scored.orderBy(
        F.col("lift").desc(), "part_a", "part_b"
    ).limit(topk)
    w = Window.orderBy(F.col("lift").desc(), "part_a", "part_b")
    return top.withColumn("pair_rank", F.row_number().over(w).cast("int"))


def fulfillment_latency(
    spark: SparkSession, sf_dir: str, exact: bool = False
) -> DataFrame:
    """Order-fulfillment latency report: per order priority, the
    distribution of line-level ship lag (l_shipdate − o_orderdate in
    whole days) — the operations dashboard's "are URGENT orders
    actually shipping faster" answer, and the ship-side twin of the
    customer-side ``conversion_latency``.

    One fact⋈fact shuffle on the order key (AQE handles skew); the
    lag is an integer day difference computed from epoch-µs division
    (engine-exact, UTC, no calendar functions), so only the two
    interpolated percentiles and the mean division are floats,
    rounded at the boundary. DEFAULTS to mergeable
    ``percentile_approx`` (a priority group holds a fifth of all
    lineitems — exact percentile would buffer it in one aggregation
    state); ``exact=True`` keeps the interpolating percentile for the
    oracle gate, identical schema (approx result cast to double).
    """
    pctl = pctl_fn(exact)
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        F.expr("unix_micros(cast(l_shipdate as timestamp)) div 86400000000").alias("ship_day"),
    )
    orders = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("l_orderkey"),
        "o_orderpriority",
        F.expr("unix_micros(cast(o_orderdate as timestamp)) div 86400000000").alias("order_day"),
    )
    lag = li.join(orders, "l_orderkey").select(
        "o_orderpriority",
        (F.col("ship_day") - F.col("order_day")).alias("lag_days"),
    )
    return lag.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_lines"),
        F.min("lag_days").alias("min_days"),
        F.max("lag_days").alias("max_days"),
        F.round(pctl(F.col("lag_days"), F.lit(0.5)), 6).alias("p50_days"),
        F.round(pctl(F.col("lag_days"), F.lit(0.9)), 6).alias("p90_days"),
        F.round(F.avg("lag_days"), 6).alias("mean_days"),
    )


def wow_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Week-over-week revenue growth: total order value per epoch
    week with the previous week's total and the percent change — the
    growth line every executive dashboard opens with (the reference's
    timeseries chart shows levels; this shows the derivative).

    Weeks are pure integer epoch math (µs div week — no ISO-week
    calendar ambiguity across engines); revenue accumulates in exact
    DECIMAL; the single float is the growth division (try_divide — a
    zero-revenue week yields NULL growth, and the first week has no
    baseline). The weekly frame is ZERO-FILLED over the min..max week
    spine first, so an order-less week shows revenue 0 / growth −100%
    and the following week's baseline is its TRUE predecessor, not an
    older week (a lag over observed weeks only would smooth straight
    across an outage). One partial-agg shuffle to ≤ |weeks| rows,
    then a lag window over that calendar-bounded frame.
    """
    orders = load_table(spark, sf_dir, "orders")
    week_us = 7 * 86_400_000_000
    # observed feeds BOTH the spine min/max aggregate and the left
    # join, and pruning drops the revenue sum from the spine branch so
    # exchange reuse can't deduplicate — the pin runs the orders scan
    # + weekly shuffle once (aggregated ≤|weeks|-row frame)
    observed = (
        orders.select(
            F.expr(
                f"unix_micros(cast(o_orderdate as timestamp)) div {week_us}"
            ).alias("week_idx"),
            "o_totalprice",
        )
        .groupBy("week_idx")
        .agg(F.sum(dec_money("o_totalprice")).cast("double").alias("revenue"))
        .transform(local_checkpoint, eager=False)
    )
    spine = observed.agg(
        F.min("week_idx").alias("_lo"), F.max("week_idx").alias("_hi")
    ).select(F.explode(F.sequence("_lo", "_hi")).alias("week_idx"))
    weekly = spine.join(observed, "week_idx", "left").select(
        "week_idx", F.coalesce("revenue", F.lit(0.0)).alias("revenue")
    )
    w = Window.orderBy("week_idx")  # ≤ |weeks| rows: calendar-bounded
    prev = F.lag("revenue").over(w)
    return weekly.select(
        "week_idx",
        (F.col("week_idx") * week_us).alias("week_start_us"),
        "revenue",
        prev.alias("prev_revenue"),
        F.round(
            F.try_divide(F.col("revenue") - prev, prev), 6
        ).alias("growth"),
    )


def repeat_rate(
    spark: SparkSession, sf_dir: str, exact: bool = False
) -> DataFrame:
    """Repeat-purchase report: what share of customers ever order a
    second time, and how long the first→second gap takes (p50/p90
    days) — the retention KPI an e-commerce dashboard pairs with
    ``cohort_retention``'s matrix and ``customer_order_gaps``'
    cadence detail, reduced to ONE row.

    One customer-keyed window (total order: date then key) marks each
    customer's first and second orders; a customer-grain aggregate
    and a 1-row reduction follow. DEFAULTS to mergeable
    ``percentile_approx`` for the two gap percentiles (the 1-row
    reduction otherwise buffers every customer's gap in one
    aggregation state); ``exact=True`` keeps the interpolating
    percentile for the oracle gate. Integer epoch-day gaps; the rate
    and the two interpolated percentiles are the only floats, rounded
    at the boundary (percentiles skip non-repeat customers' NULL gaps
    identically in both engines).
    """
    orders = load_table(spark, sf_dir, "orders").select(
        "o_custkey",
        "o_orderkey",
        F.expr("unix_micros(cast(o_orderdate as timestamp)) div 86400000000")
        .alias("day"),
    )
    w = Window.partitionBy("o_custkey").orderBy("day", "o_orderkey")
    ranked = orders.withColumn("rn", F.row_number().over(w)).filter(
        F.col("rn") <= 2
    )
    per_cust = ranked.groupBy("o_custkey").agg(
        F.min(F.when(F.col("rn") == 1, F.col("day"))).alias("first_day"),
        F.min(F.when(F.col("rn") == 2, F.col("day"))).alias("second_day"),
    )
    gap = F.col("second_day") - F.col("first_day")
    pctl = pctl_fn(exact)
    return per_cust.agg(
        F.count(F.lit(1)).alias("n_customers"),
        F.sum(F.col("second_day").isNotNull().cast("bigint")).alias(
            "n_repeat"
        ),
        F.round(
            F.sum(F.col("second_day").isNotNull().cast("bigint"))
            / F.count(F.lit(1)),
            6,
        ).alias("repeat_rate"),
        F.round(pctl(gap, F.lit(0.5)), 6).alias("p50_gap_days"),
        F.round(pctl(gap, F.lit(0.9)), 6).alias("p90_gap_days"),
    )
