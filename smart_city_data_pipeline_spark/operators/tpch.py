"""Warehouse / daily-report batch analytics (TPC-H-style) — the
reference's Spark-batch + Postgres-warehouse side
(``pipline2/spark-jobs/traffic_batch_processing.py``,
``pipline2/init-db.sql``) exercised on the star schema.

Money arithmetic is done in DECIMAL(18,2)-derived types so sums are
EXACT and engine-portable (double summation order differs between
engines and even between Spark runs due to partial-agg ordering); the
final cast to double + round(4) happens only on the exact decimal.

Scale notes: broadcast hints are reserved for genuinely BOUNDED sides
— region (5 rows), nation (25 rows), 1-row scalar aggregates, and
post-HAVING filters whose output is provably tiny. Tables that grow
with scale factor (customer, supplier, part, per-key aggregates of the
fact table) carry NO forced hint: at sf0.1 AQE still picks a broadcast
join via autoBroadcastJoinThreshold, while at 100 TB the same plan
degrades gracefully to a shuffle hash join instead of an executor OOM.
Fact-fact joins (orders⋈lineitem) shuffle on the join key once; AQE
handles skew. Top-N uses orderBy+limit which compiles to
TakeOrderedAndProject (per-partition heap, no global sort).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from smart_city_data_pipeline_spark.catalog import spread, table
from smart_city_data_pipeline_spark.functions.hashing import md5_long_sql
from smart_city_data_pipeline_spark.functions.rounding import (
    pround,
    pround_sql,
    sum_exact,
    sum_exact_sql,
)


def _dec(c: str) -> Column:
    return F.col(c).cast("decimal(18,2)")


def _disc_price() -> Column:
    return _dec("l_extendedprice") * (F.lit(1).cast("decimal(18,2)") - _dec("l_discount"))


def _charge() -> Column:
    return _disc_price() * (F.lit(1).cast("decimal(18,2)") + _dec("l_tax"))


def _money(col: Column, alias: str) -> Column:
    """Exact decimal sum → double, rounded."""
    return pround(F.sum(col).cast("double")).alias(alias)


def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1: pricing summary report. Single scan + hash aggregate;
    the shipdate filter is pushed to the parquet scan."""
    li = table(spark, sf_dir, "lineitem")
    return (
        # spread AFTER the filter: pushdown reaches the scan, then the
        # decimal-heavy partial aggregation fans out across all cores.
        spread(li.filter(F.col("l_shipdate") <= F.lit("2000-09-02").cast("timestamp")))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            _money(_dec("l_quantity"), "sum_qty"),
            _money(_dec("l_extendedprice"), "sum_base_price"),
            _money(_disc_price(), "sum_disc_price"),
            _money(_charge(), "sum_charge"),
            pround(F.sum(_dec("l_quantity")).cast("double") / F.count(F.lit(1))).alias("avg_qty"),
            pround(F.sum(_dec("l_extendedprice")).cast("double") / F.count(F.lit(1))).alias("avg_price"),
            pround(F.sum(_dec("l_discount")).cast("double") / F.count(F.lit(1))).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3: unshipped-orders revenue, top 10."""
    cust = table(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    orders = table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp")
    )
    li = table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1998-01-01").cast("timestamp")
    )
    # Hash-spread on the join key: the exchange satisfies the join's
    # required distribution, so it adds parallelism without an extra
    # shuffle stage.
    li = spread(li, "l_orderkey")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        # customer grows with sf — no forced hint; AQE size-gates it.
        .join(cust, orders.o_custkey == cust.c_custkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(_money(_disc_price(), "revenue"))
        .orderBy(F.col("revenue").desc(), F.col("o_orderdate").asc(), F.col("l_orderkey").asc())
        .limit(10)
    )


def q5_local_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5: revenue by nation where supplier and customer share a
    nation, ASIA, 1996. Only region/nation (bounded) broadcast."""
    region = table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    nation = table(spark, sf_dir, "nation")
    cust = table(spark, sf_dir, "customer")
    supp = table(spark, sf_dir, "supplier")
    orders = table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    li = spread(table(spark, sf_dir, "lineitem"), "l_orderkey")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(supp, (li.l_suppkey == supp.s_suppkey) & (cust.c_nationkey == supp.s_nationkey))
        .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("n_name")
        .agg(_money(_disc_price(), "revenue"))
    )


def revenue_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customer-nation revenue rollup across the full fact table."""
    nation = table(spark, sf_dir, "nation")
    region = table(spark, sf_dir, "region")
    cust = table(spark, sf_dir, "customer")
    orders = table(spark, sf_dir, "orders")
    li = spread(table(spark, sf_dir, "lineitem"), "l_orderkey")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy(F.col("r_name").alias("region_name"), F.col("n_name").alias("nation_name"))
        .agg(
            _money(_disc_price(), "revenue"),
            F.countDistinct("o_orderkey").alias("n_orders"),
        )
    )


def big_spender_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18-style: orders whose total quantity exceeds 150."""
    li = table(spark, sf_dir, "lineitem")
    orders = table(spark, sf_dir, "orders")
    cust = table(spark, sf_dir, "customer")
    big = (
        spread(li, "l_orderkey").groupBy("l_orderkey")
        .agg(F.sum(_dec("l_quantity")).alias("qty_dec"))
        .filter(F.col("qty_dec") > 150)
    )
    return (
        # `big` is small after the HAVING filter at any one sf, but the
        # number of qualifying orders grows linearly with the corpus —
        # no forced hint; AQE broadcasts it while it fits and degrades
        # to a shuffle join at 100 TB instead of an executor OOM.
        orders.join(big, orders.o_orderkey == big.l_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .select(
            F.col("c_name"),
            F.col("o_orderkey"),
            F.col("o_orderdate"),
            pround(F.col("o_totalprice")).alias("o_totalprice"),
            F.col("qty_dec").cast("double").alias("total_qty"),
        )
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey").asc())
        .limit(100)
    )


def promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14-style: share of revenue from PROMO parts, one month."""
    li = table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-03-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp"))
    )
    part = table(spark, sf_dir, "part")
    joined = li.join(part, li.l_partkey == part.p_partkey)
    promo = F.sum(
        F.when(F.col("p_type") == "PROMO", _disc_price()).otherwise(
            F.lit(0).cast("decimal(18,2)")
        )
    )
    total = F.sum(_disc_price())
    return joined.agg(
        pround(promo.cast("double") * 100.0 / total.cast("double")).alias("promo_pct")
    )


def order_priority_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4-style: orders with a late-shipped lineitem, by priority.
    Left-semi join — Spark never materializes the pair blowup."""
    orders = table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-07-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-10-01").cast("timestamp"))
    )
    li = table(spark, sf_dir, "lineitem")
    matched = orders.join(
        li,
        (orders.o_orderkey == li.l_orderkey)
        & (li.l_shipdate > orders.o_orderdate + F.expr("INTERVAL 60 DAYS")),
        "left_semi",
    )
    return matched.groupBy(F.col("o_orderpriority")).agg(
        F.count(F.lit(1)).alias("order_count")
    )


def q7_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7-style: shipping volume between two nations per year.

    Both nation lookups broadcast (bounded); customer/supplier joins
    are unhinted shuffle-or-AQE-broadcast on their keys."""
    nation = table(spark, sf_dir, "nation")
    supp = table(spark, sf_dir, "supplier")
    cust = table(spark, sf_dir, "customer")
    orders = table(spark, sf_dir, "orders")
    li = spread(table(spark, sf_dir, "lineitem"), "l_orderkey").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    n1 = nation.select(F.col("n_nationkey").alias("s_nkey"), F.col("n_name").alias("supp_nation"))
    n2 = nation.select(F.col("n_nationkey").alias("c_nkey"), F.col("n_name").alias("cust_nation"))
    pair = (F.col("supp_nation") == "NATION_20") & (F.col("cust_nation") == "NATION_11") | (
        F.col("supp_nation") == "NATION_11"
    ) & (F.col("cust_nation") == "NATION_20")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(supp, li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("s_nkey"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("c_nkey"))
        .filter(pair)
        .groupBy("supp_nation", "cust_nation", F.year("l_shipdate").alias("l_year"))
        .agg(_money(_disc_price(), "revenue"))
    )


def q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10-style: top 20 customers by lost revenue on returns."""
    cust = table(spark, sf_dir, "customer")
    nation = table(spark, sf_dir, "nation")
    orders = table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-10-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    li = spread(table(spark, sf_dir, "lineitem"), "l_orderkey").filter(
        F.col("l_returnflag") == "R"
    )
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(_money(_disc_price(), "revenue"))
        .withColumn("c_acctbal", pround(F.col("c_acctbal")))
        .orderBy(F.col("revenue").desc(), F.col("c_custkey").asc())
        .limit(20)
    )


def q22_global_sales_opportunity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22-style: rich customers with no RECENT orders (since
    1999), by nation group.

    Scalar avg via 1-row broadcast; orders exclusion via left_anti join
    on the date-filtered fact (no pair blowup, no distinct
    materialization; the date predicate pushes to the scan)."""
    cust = table(spark, sf_dir, "customer")
    orders = table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") >= F.lit("1999-01-01").cast("timestamp")
    )
    # avg comparison in EXACT decimals (bal * n > total) — a double avg
    # differs between engines in the last ulp, which can flip membership.
    avg_bal = cust.filter(F.col("c_acctbal") > 0).agg(
        F.sum(_dec("c_acctbal")).alias("tot_bal"),
        F.count(F.lit(1)).alias("n_pos"),
    )
    rich = cust.join(F.broadcast(avg_bal)).filter(
        _dec("c_acctbal") * F.col("n_pos") > F.col("tot_bal")
    )
    no_orders = rich.join(orders, rich.c_custkey == orders.o_custkey, "left_anti")
    return no_orders.groupBy((F.col("c_nationkey") % 5).alias("cntry_grp")).agg(
        F.count(F.lit(1)).alias("numcust"),
        pround(sum_exact(F.col("c_acctbal"))).alias("totacctbal"),
    )


def q13_customer_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13-style: how many customers placed k orders (k incl. 0).

    LEFT join so order-less customers count at k=0; two
    map-side-combinable aggregates, no distinct."""
    cust = table(spark, sf_dir, "customer")
    orders = table(spark, sf_dir, "orders")
    per_cust = (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(F.count(F.lit(1)).alias("custdist"))


def q17_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17-style: revenue from lineitems whose quantity is below
    20% of their part's average quantity.

    The correlated scalar avg becomes a per-part aggregate joined back
    onto the fact. per_part has one row per distinct l_partkey — it
    grows with sf, so it carries NO broadcast hint; both sides are
    already hash-partitioned on l_partkey (the spread + the groupBy),
    so the join co-locates without an extra exchange of the fact. The
    avg comparison is EXACTIFIED by multiplying through
    (5*qty*cnt < sum) so no double division can flip a boundary row
    between engines."""
    li = spread(table(spark, sf_dir, "lineitem"), "l_partkey")
    per_part = li.groupBy(F.col("l_partkey").alias("p_key")).agg(
        F.sum(_dec("l_quantity")).alias("qty_sum"),
        F.count(F.lit(1)).alias("qty_cnt"),
    )
    joined = li.join(per_part, li.l_partkey == F.col("p_key"))
    # l_quantity < 0.2 * (qty_sum / qty_cnt)  <=>  5*qty*cnt < sum  (exact)
    small = joined.filter(
        _dec("l_quantity") * 5 * F.col("qty_cnt") < F.col("qty_sum")
    )
    return small.agg(
        pround((F.sum(_dec("l_extendedprice")) / F.lit(7)).cast("double")).alias("avg_yearly")
    )


def q19_discounted_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19-style: revenue under a DISJUNCTION of brand/size/
    quantity band predicates.

    The plan property under test at scale: Catalyst splits the OR into
    a part-side filter (brand/size bands push to the part scan) and a
    lineitem-side filter (the quantity envelope 1..30 pushes to the
    fact scan), then applies the full disjunction as the join's
    residual condition — so neither scan reads rows that no branch can
    accept."""
    li = table(spark, sf_dir, "lineitem")
    part = table(spark, sf_dir, "part")
    qty = F.col("l_quantity")
    branch1 = (
        (F.col("p_brand") == "Brand#1")
        & F.col("p_size").between(1, 15)
        & qty.between(1, 11)
    )
    branch2 = (
        (F.col("p_brand") == "Brand#2")
        & F.col("p_size").between(1, 25)
        & qty.between(10, 20)
    )
    branch3 = (
        (F.col("p_type") == "PROMO")
        & F.col("p_size").between(1, 35)
        & qty.between(20, 30)
    )
    joined = li.join(part, li.l_partkey == part.p_partkey).filter(
        branch1 | branch2 | branch3
    )
    return joined.agg(_money(_disc_price(), "revenue"))


def late_supplier_blame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21-style: suppliers who were the SOLE late shipper in a
    multi-supplier order — the exists + not-exists pair re-expressed as
    one conditional aggregate per order (countDistinct all / late
    suppliers + min late supplier), so the two correlated subqueries
    cost a single keyed shuffle instead of two pair joins."""
    orders = table(spark, sf_dir, "orders")
    supp = table(spark, sf_dir, "supplier")
    li = spread(table(spark, sf_dir, "lineitem"), "l_orderkey")
    flagged = li.join(orders, li.l_orderkey == orders.o_orderkey).select(
        "l_orderkey",
        "l_suppkey",
        (F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS")).alias(
            "late"
        ),
    )
    per_order = flagged.groupBy("l_orderkey").agg(
        F.countDistinct("l_suppkey").alias("n_supp"),
        F.countDistinct(F.when(F.col("late"), F.col("l_suppkey"))).alias("n_late"),
        F.min(F.when(F.col("late"), F.col("l_suppkey"))).alias("late_supp"),
    )
    blamed = per_order.filter((F.col("n_supp") >= 2) & (F.col("n_late") == 1))
    return (
        blamed.join(supp, blamed.late_supp == supp.s_suppkey)
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .orderBy(F.col("numwait").desc(), F.col("s_name").asc())
        .limit(20)
    )


def q20_surplus_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20-style: suppliers (nation subset) who kept SURPLUS
    stock of the small-part family — shipped more of a part in 1995-H2
    than half of that part's 1995-H1 demand — the classic nested-semi
    topology: semi-join over a correlated per-(partkey, suppkey)
    aggregate over the fact (reference: the one join shape from
    ``init-db.sql``-style warehouse reporting not yet represented).

    Spark-first flattening: the two correlated scalar subqueries (H2
    shipped vs H1 demand for the same (ps) pair) collapse into ONE
    conditional aggregate over a single date-bracketed scan — the
    [1995-01-01, 1996-01-01) envelope is pushed to the parquet scan,
    the part-family restriction is a LEFT SEMI join (part grows with
    sf ⇒ no hint, AQE sizes it), and the supplier IN-list becomes a
    second LEFT SEMI join. Quantity sums compare in DECIMAL(18,2)
    (2·h2 > h1), so no double-summation order can flip a boundary
    pair between engines. Only nation — 25 rows — carries a forced
    broadcast."""
    part = table(spark, sf_dir, "part")
    supp = table(spark, sf_dir, "supplier")
    nation = table(spark, sf_dir, "nation")
    li = spread(table(spark, sf_dir, "lineitem"), "l_partkey")

    y_start = F.lit("1995-01-01").cast("timestamp")
    h2_start = F.lit("1995-07-01").cast("timestamp")
    y_end = F.lit("1996-01-01").cast("timestamp")
    zero = F.lit(0).cast("decimal(18,2)")
    bracketed = li.filter((F.col("l_shipdate") >= y_start) & (F.col("l_shipdate") < y_end))
    small_parts = part.filter(F.col("p_name").like("small%")).select("p_partkey")
    per_ps = (
        bracketed.join(small_parts, bracketed.l_partkey == small_parts.p_partkey, "left_semi")
        .groupBy("l_partkey", "l_suppkey")
        .agg(
            F.sum(F.when(F.col("l_shipdate") >= h2_start, _dec("l_quantity")).otherwise(zero)).alias("h2_qty"),
            F.sum(F.when(F.col("l_shipdate") < h2_start, _dec("l_quantity")).otherwise(zero)).alias("h1_qty"),
        )
        .filter((F.col("h1_qty") > 0) & (F.col("h2_qty") * 2 > F.col("h1_qty")))
        .select("l_suppkey")
    )
    return (
        supp.join(
            F.broadcast(nation.filter(F.col("n_nationkey") % 2 == 0)),
            supp.s_nationkey == nation.n_nationkey,
        )
        .join(per_ps, supp.s_suppkey == per_ps.l_suppkey, "left_semi")
        .select("s_name", "s_acctbal")
        .orderBy("s_name")
    )


def q2_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2-style: for each part of a family, the ARGMIN supplier —
    the one with the lowest average supply price — restricted to an
    even-keyed nation subset (this schema has no partsupp; per-(part,
    supplier) average lineitem price plays ps_supplycost).

    The correlated "= (SELECT MIN(...))" subquery becomes a rank-1
    window over the per-(part, supplier) aggregate: one keyed shuffle
    for the aggregate, a window partitioned BY PART (never global),
    deterministic tie-break on suppkey, then dim joins — supplier is
    sf-scaled (no hint, AQE sizes it), nation is a forced 25-row
    broadcast. Price averages divide an EXACT decimal sum by a count,
    so both engines rank identical doubles; output prices re-round
    through pround."""
    li = spread(table(spark, sf_dir, "lineitem"), "l_partkey")
    part = table(spark, sf_dir, "part")
    supp = table(spark, sf_dir, "supplier")
    nation = table(spark, sf_dir, "nation")
    fam = part.filter(F.col("p_name").like("red%")).select("p_partkey", "p_name")
    per_ps = (
        li.join(fam, li.l_partkey == fam.p_partkey)
        .groupBy("p_partkey", "p_name", "l_suppkey")
        .agg((F.sum(_dec("l_extendedprice")).cast("double") / F.count(F.lit(1))).alias("avg_price"))
    )
    # Q2 semantics: the MIN ranges over suppliers IN the nation subset,
    # so restrict BEFORE the argmin window.
    eligible = per_ps.join(supp, per_ps.l_suppkey == supp.s_suppkey).join(
        F.broadcast(nation.filter(F.col("n_nationkey") % 2 == 0)),
        supp.s_nationkey == nation.n_nationkey,
    )
    w = Window.partitionBy("p_partkey").orderBy(
        F.col("avg_price").asc(), F.col("l_suppkey").asc()
    )
    return (
        eligible.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select(
            "p_partkey",
            "p_name",
            "s_name",
            F.col("n_name").alias("nation"),
            pround(F.col("avg_price")).alias("min_avg_price"),
        )
        .orderBy(F.col("min_avg_price").asc(), F.col("p_partkey").asc())
        .limit(20)
    )


def q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6: forecasting revenue change — one scan, every predicate
    (date bracket, discount band, quantity cap) pushed to parquet, one
    global decimal aggregate. The canonical pushdown showcase: the scan
    reads 4 columns of a 11-column table and skips row groups outside
    the 1996 shipdate bracket."""
    li = table(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_discount") >= 0.02)
            & (F.col("l_discount") <= 0.04)
            & (F.col("l_quantity") < 24)
        )
        .agg(_money(_dec("l_extendedprice") * _dec("l_discount"), "revenue"))
    )


def q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8-style: NATION_2's share of region-1 market revenue per
    order year. The market restriction (customers in region 1) and the
    share numerator (suppliers from NATION_2) are both nation-table
    lookups — 25 rows, forced broadcast; the share is one conditional
    decimal aggregate over supplier-level partial sums, so the fact is
    shuffled exactly once (the orders join) — the supplier join runs
    over the bounded (year × suppkey) pre-aggregate, never the fact."""
    li = spread(table(spark, sf_dir, "lineitem"), "l_orderkey")
    orders = table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1995-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    cust = table(spark, sf_dir, "customer")
    supp = table(spark, sf_dir, "supplier")
    nation = table(spark, sf_dir, "nation")
    market_nations = nation.filter(F.col("n_regionkey") == 1).select(
        F.col("n_nationkey").alias("cn_key")
    )
    supp_nation = nation.select(
        F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation")
    )
    vol = _disc_price()
    # Restrict orders to market customers BEFORE the fact join: the
    # broadcast nation filter cuts customers ~5× and the date bracket
    # cuts orders ~3×, so the lineitem join shuffles a far smaller
    # build side (Catalyst won't reorder shuffle joins without CBO
    # stats, so the join order is the plan).
    market_orders = orders.join(
        cust, orders.o_custkey == cust.c_custkey
    ).join(F.broadcast(market_nations), cust.c_nationkey == F.col("cn_key"))
    # Pre-aggregate fact revenue per (year, suppkey) BEFORE the
    # supplier join (VERDICT r5 item 8): decimal addition is exact, so
    # regrouping the partial sums is value-identical, and the supplier
    # join now runs over a years×suppliers aggregate instead of a
    # second fact-sized shuffle — at 100 TB that join drops from the
    # plan's cost driver to noise.
    per_supp = (
        li.join(market_orders, li.l_orderkey == F.col("o_orderkey"))
        .groupBy(
            F.year("o_orderdate").alias("o_year"),
            F.col("l_suppkey"),
        )
        .agg(F.sum(vol).alias("svol"))
    )
    joined = per_supp.join(supp, per_supp.l_suppkey == supp.s_suppkey).join(
        F.broadcast(supp_nation), supp.s_nationkey == F.col("sn_key")
    )
    return joined.groupBy("o_year").agg(
        _money(F.col("svol"), "total_volume"),
        pround(
            F.coalesce(
                F.sum(F.when(F.col("supp_nation") == "NATION_2", F.col("svol"))),
                F.lit(0).cast("decimal(18,2)"),
            ).cast("double")
            / F.sum("svol").cast("double")
        ).alias("mkt_share"),
    )


def q9_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9-style: profit by supplier nation and ship year over the
    blue part family. This schema has no partsupp, so half the retail
    price plays ps_supplycost (deterministic in both engines):
    profit = disc_price − 0.5·p_retailprice·l_quantity, summed in
    DECIMAL. Part family is an equi-join (sf-scaled, no hint); nation
    is the only forced broadcast; ship year avoids a second fact-fact
    join against orders (documented Q9 adaptation)."""
    li = spread(table(spark, sf_dir, "lineitem"), "l_partkey")
    part = table(spark, sf_dir, "part")
    supp = table(spark, sf_dir, "supplier")
    nation = table(spark, sf_dir, "nation")
    fam = part.filter(F.col("p_name").like("blue%")).select("p_partkey", "p_retailprice")
    half = F.lit(0.5).cast("decimal(18,2)")
    profit = _disc_price() - half * _dec("p_retailprice") * _dec("l_quantity")
    return (
        li.join(fam, li.l_partkey == fam.p_partkey)
        .join(supp, li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .groupBy(F.col("n_name").alias("nation"), F.year("l_shipdate").alias("o_year"))
        .agg(_money(profit, "sum_profit"))
    )


def q11_important_stock(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11-style: parts whose shipped value (from odd-nation
    suppliers) exceeds 0.1 % of the whole segment's value. No partsupp
    in this schema, so shipped disc_price plays ps_availqty·supplycost.

    The correlated HAVING-over-global-total becomes a 1-ROW global
    aggregate cross-joined in (forced broadcast is policy-legal: a
    global aggregate root emits exactly one row at any scale); the
    per-part aggregate is one keyed shuffle. Threshold compares
    DECIMAL·INT against DECIMAL — exact in both engines, no float
    boundary flip."""
    li = spread(table(spark, sf_dir, "lineitem"), "l_partkey")
    supp = table(spark, sf_dir, "supplier")
    nation = table(spark, sf_dir, "nation")
    odd_supp = supp.join(
        F.broadcast(nation.filter(F.col("n_nationkey") % 2 == 1)),
        supp.s_nationkey == nation.n_nationkey,
    ).select("s_suppkey")
    segment = li.join(odd_supp, li.l_suppkey == odd_supp.s_suppkey, "left_semi")
    per_part = segment.groupBy("l_partkey").agg(F.sum(_disc_price()).alias("value_dec"))
    total = per_part.agg(F.sum("value_dec").alias("total_dec"))
    return (
        per_part.crossJoin(F.broadcast(total))
        .filter(F.col("value_dec") * 1000 > F.col("total_dec"))
        .select(
            F.col("l_partkey").alias("p_partkey"),
            pround(F.col("value_dec").cast("double")).alias("part_value"),
        )
        .orderBy(F.col("part_value").desc(), F.col("p_partkey").asc())
    )


def q12_ship_delay_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12-style: order-priority mix by shipping promptness. This
    schema has no l_shipmode/commitdate/receiptdate, so lineitems are
    bucketed by actual ship delay (shipdate − orderdate: <30 d fast,
    30-90 d normal, >90 d slow) and each bucket counts critical
    (1-URGENT / 2-HIGH) vs other order priorities — Q12's exact output
    contract over the columns this lake has. One fact-fact equi-join,
    buckets and counts in a single conditional aggregate."""
    li = table(spark, sf_dir, "lineitem")
    orders = table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    delay = F.datediff(F.col("l_shipdate"), F.col("o_orderdate"))
    bucket = (
        F.when(delay < 30, "fast").when(delay <= 90, "normal").otherwise("slow")
    )
    critical = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy(bucket.alias("delay_bucket"))
        .agg(
            F.sum(F.when(critical, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(critical, 0).otherwise(1)).alias("low_line_count"),
        )
    )


def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15: the supplier(s) with maximum revenue in 1996-Q1. The
    revenue view is one keyed aggregate; the correlated
    "= (SELECT MAX(...))" becomes a 1-row global max cross-joined in
    (broadcast-legal by the global-aggregate rule) with an EXACT
    decimal equality — double rounding can never drop or duplicate the
    argmax. No global sort anywhere."""
    li = table(spark, sf_dir, "lineitem")
    supp = table(spark, sf_dir, "supplier")
    revenue = (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp"))
        )
        .groupBy("l_suppkey")
        .agg(F.sum(_disc_price()).alias("rev_dec"))
    )
    top = revenue.agg(F.max("rev_dec").alias("max_dec"))
    return (
        revenue.crossJoin(F.broadcast(top))
        .filter(F.col("rev_dec") == F.col("max_dec"))
        .join(supp, F.col("l_suppkey") == supp.s_suppkey)
        .select(
            F.col("s_suppkey"),
            F.col("s_name"),
            pround(F.col("rev_dec").cast("double")).alias("total_revenue"),
        )
        .orderBy("s_suppkey")
    )


def q16_supplier_part_variety(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16-style: how many distinct suppliers can deliver each
    (brand, type, size) family, excluding one brand and excluding
    complained-about suppliers (no comment column in this lake —
    negative account balance plays the complaint flag, an anti-join).
    partsupp is played by the distinct (l_partkey, l_suppkey) pairs
    actually shipped. Distinct-pairs → part equi-join →
    countDistinct: two keyed shuffles, no row explosion."""
    li = table(spark, sf_dir, "lineitem")
    part = table(spark, sf_dir, "part")
    supp = table(spark, sf_dir, "supplier")
    pairs = li.select("l_partkey", "l_suppkey").distinct()
    complained = supp.filter(F.col("s_acctbal") < 0).select("s_suppkey")
    fam = part.filter(
        (F.col("p_brand") != "Brand#1") & (F.col("p_size") <= 25)
    ).select("p_partkey", "p_brand", "p_type", "p_size")
    return (
        pairs.join(complained, pairs.l_suppkey == complained.s_suppkey, "left_anti")
        .join(fam, pairs.l_partkey == fam.p_partkey)
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
        .orderBy(
            F.col("supplier_cnt").desc(),
            F.col("p_brand").asc(),
            F.col("p_type").asc(),
            F.col("p_size").asc(),
        )
        .limit(40)
    )


_DISC_SQL = "CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))"
_CHARGE_SQL = f"({_DISC_SQL}) * (CAST(1 AS DECIMAL(18,2)) + CAST(l_tax AS DECIMAL(18,2)))"

def cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customer cohort retention: customers cohorted by first-order
    quarter; for each (cohort, quarter-offset), how many are still
    ordering — the classic warehouse retention matrix.

    Two keyed aggregates over orders (per-customer first quarter;
    distinct customer-quarter activity) joined on the high-cardinality
    customer key, then a tiny (cohorts × offsets) rollup; cohort sizes
    come from a window over that rollup (offset 0 row), never a second
    fact scan.
    """
    orders = table(spark, sf_dir, "orders")
    qi = (
        F.year("o_orderdate") * 4 + F.floor((F.month("o_orderdate") - 1) / 3)
    ).cast("long")
    act = orders.select(
        F.col("o_custkey").alias("custkey"), qi.alias("qi")
    ).distinct()
    first = act.groupBy("custkey").agg(F.min("qi").alias("cohort_qi"))
    cells = (
        act.join(first, "custkey")
        .groupBy("cohort_qi", (F.col("qi") - F.col("cohort_qi")).alias("offset_q"))
        .agg(F.count(F.lit(1)).alias("n_active"))
    )
    w = Window.partitionBy("cohort_qi")
    size = F.max(F.when(F.col("offset_q") == 0, F.col("n_active"))).over(w)
    return cells.select(
        "cohort_qi",
        F.col("offset_q").cast("int").alias("offset_q"),
        "n_active",
        size.alias("cohort_size"),
        pround(F.col("n_active").cast("double") / size.cast("double")).alias(
            "retention"
        ),
    )


BASKET_MIN_SUPPORT = 3
BASKET_TOP_N = 100


def basket_affinity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket affinity: part pairs co-ordered more often than
    chance (lift), the cross-sell report over order line items.

    The pair join is keyed on ``l_orderkey`` whose cell size is the
    per-order line count — bounded at 7 by the data generator (and by
    basket size in any real catalog), so the join is linear with a
    small constant, never quadratic in a part's popularity. Per-part
    order counts and the pair counts reuse one distinct projection;
    the final lift computation runs on the tiny pair aggregate, and
    top-N compiles to TakeOrderedAndProject.
    """
    # li feeds the order count, the per-part rollup and both pair-join
    # sides — the distinct's exchange is shared by runtime reuse, but
    # its final dedup aggregate re-ran per consumer; materialize the
    # (order, part) projection once (guide §7.2/§5, A/B-gated).
    li = table(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("pk")
    ).distinct().localCheckpoint(eager=True)
    n_orders = li.select(F.countDistinct("ok").alias("n_orders"))
    per_part = li.groupBy("pk").agg(F.count(F.lit(1)).alias("n_part"))
    a = li.select("ok", F.col("pk").alias("part_a"))
    b = li.select(F.col("ok").alias("okb"), F.col("pk").alias("part_b"))
    pairs = (
        a.join(b, (F.col("ok") == F.col("okb")) & (F.col("part_a") < F.col("part_b")))
        .groupBy("part_a", "part_b")
        .agg(F.count(F.lit(1)).alias("n_ab"))
        .filter(F.col("n_ab") >= BASKET_MIN_SUPPORT)
    )
    na = per_part.select(F.col("pk").alias("part_a"), F.col("n_part").alias("n_a"))
    nb = per_part.select(F.col("pk").alias("part_b"), F.col("n_part").alias("n_b"))
    lift = (
        F.col("n_ab").cast("double")
        * F.col("n_orders").cast("double")
        / (F.col("n_a").cast("double") * F.col("n_b").cast("double"))
    )
    return (
        pairs.join(na, "part_a")
        .join(nb, "part_b")
        .join(F.broadcast(n_orders))
        .select(
            "part_a", "part_b", "n_ab", "n_a", "n_b", pround(lift).alias("lift")
        )
        .orderBy(F.col("n_ab").desc(), F.col("part_a"), F.col("part_b"))
        .limit(BASKET_TOP_N)
    )


# Bloom runtime-filter parameters. M deliberately small for the test
# corpus so the false-positive branch FIRES under the hash gate (fill
# ≈ 55% at 270 build keys × 3 hashes → fp ≈ 16%); production sizes
# m ≈ 10·n_keys bits for ~1% fp. Hashes are the repo's portable
# md5-integer family, so both engines compute identical bit positions.
BLOOM_M = 1024
BLOOM_K = 3
BLOOM_SEL = 490000.0  # build-side predicate: o_totalprice above this


def bloom_prefilter_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter semi-join reduction — the runtime-filter primitive
    (Spark's own bloom runtime filters / Iceberg bloom columns) made
    inspectable: build a Bloom filter over the distinct high-value
    o_custkeys, pre-filter the customer probe side with it, and report
    the reduction plus the exact false-positive accounting (members
    never fail — the no-false-negative guarantee is part of the hash
    gate, not just a docstring).

    100 TB story: a probe-side scan consults an m-bit bitmap BEFORE
    shuffling toward the join — rows rejected by the bloom never enter
    the exchange. Here the bitmap lives as a ≤m-row distinct-bits
    table (AQE broadcasts it); the pass test is 'all k of the key's
    DISTINCT bit positions present' (distinct first, so two hashes
    colliding on one bit can't double-count), and membership truth is
    the exact semi join for the audit columns. One row out.
    """
    from smart_city_data_pipeline_spark.functions.hashing import md5_long

    orders = table(spark, sf_dir, "orders")
    cust = table(spark, sf_dir, "customer")
    build = (
        orders.filter(F.col("o_totalprice") > BLOOM_SEL)
        .select("o_custkey")
        .distinct()
    )

    def bits(df: DataFrame, keycol: str) -> DataFrame:
        return df.select(
            F.col(keycol).alias("key"),
            F.explode(
                F.array(
                    *[
                        (
                            md5_long(
                                F.concat(
                                    F.lit(f"bl{j}:"),
                                    F.col(keycol).cast("string"),
                                )
                            )
                            % BLOOM_M
                        )
                        for j in range(BLOOM_K)
                    ]
                )
            ).alias("bit"),
        )

    set_bits = bits(build, "o_custkey").select("bit").distinct()
    pb = bits(cust, "c_custkey").distinct()
    nb = pb.groupBy("key").agg(F.count(F.lit(1)).alias("nb"))
    nh = (
        pb.join(set_bits, "bit")
        .groupBy("key")
        .agg(F.count(F.lit(1)).alias("nh"))
    )
    member = (
        cust.select(F.col("c_custkey").alias("key"))
        .join(
            build.select(F.col("o_custkey").alias("key"), F.lit(1).alias("m")),
            "key",
            "left",
        )
        .select("key", F.col("m").isNotNull().alias("is_member"))
    )
    per_key = (
        nb.join(nh, "key", "left")
        .join(member, "key")
        .select(
            "key",
            (F.coalesce(F.col("nh"), F.lit(0)) == F.col("nb")).alias("passed"),
            "is_member",
        )
    )
    stats = per_key.agg(
        F.count(F.lit(1)).alias("n_probe"),
        F.sum(F.col("passed").cast("long")).alias("n_pass"),
        F.sum(F.col("is_member").cast("long")).alias("n_members"),
        F.sum((F.col("passed") & ~F.col("is_member")).cast("long")).alias(
            "n_false_pos"
        ),
        F.sum((F.col("is_member") & ~F.col("passed")).cast("long")).alias(
            "n_false_neg"
        ),
    )
    sizes = build.agg(F.count(F.lit(1)).alias("n_build_keys")).join(
        set_bits.agg(F.count(F.lit(1)).alias("n_bits_set"))
    )
    non_members = F.col("n_probe") - F.col("n_members")
    return stats.join(sizes).select(
        "n_build_keys",
        "n_bits_set",
        "n_probe",
        "n_pass",
        "n_members",
        "n_false_pos",
        "n_false_neg",
        F.when(
            non_members > 0,
            pround(
                F.col("n_false_pos").cast("double") / non_members.cast("double")
            ),
        )
        .otherwise(F.lit(0.0))
        .alias("fp_rate"),
    )


def rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM customer segmentation — the classic warehouse marketing
    rollup (recency / frequency / monetary quintiles + a named
    segment), run over orders.

    Determinism: quintiles follow ``ntile(5)`` semantics on a TOTAL
    order (metric, then custkey) so ties split identically in both
    engines; monetary sums are DECIMAL(18,2)-exact. Recency counts
    days from the corpus's max order date (a 1-row broadcast).

    100 TB posture — NO global ntile window: each score is derived
    from the row's exact GLOBAL RANK on the (metric, custkey) total
    order, computed as a two-level rank — per-bucket counts (bucket =
    the metric value for the day/count-bounded r/f metrics; cents>>16
    for monetary, a value-domain-bounded grid), an exclusive
    cumulative over the BOUNDED bucket table, broadcast offsets, and
    a PARTITIONED within-bucket row_number — then the standard ntile
    arithmetic (first n%5 tiles hold n//5+1 rows) applied to the rank
    in pure integers. Identical output to a global ntile window,
    without ever moving |customers| rows to one task. The oracle keeps
    DuckDB's native ntile — the semantics equivalence IS the check.
    """
    orders = table(spark, sf_dir, "orders")
    per = orders.groupBy(F.col("o_custkey").alias("custkey")).agg(
        F.max("o_orderdate").alias("last_order"),
        F.count(F.lit(1)).cast("long").alias("frequency"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("m"),
    )
    mx = orders.agg(F.max("o_orderdate").alias("max_date"))
    j = per.join(F.broadcast(mx))
    # base (the |customers|-bounded RFM rollup) feeds the three
    # global-rank derivations (2 references each), the total count and
    # the final join — 8 lazily-shared references that each re-ran the
    # orders scan + rollup (32 parquet scans in the plan; guide
    # §7.2/§5). Materialize once.
    base = j.select(
        "custkey",
        F.datediff(F.col("max_date"), F.col("last_order"))
        .cast("long")
        .alias("r_days"),
        "frequency",
        F.col("m").cast("double").alias("monetary"),
        (F.col("m") * 100).cast("long").alias("cents"),
    ).localCheckpoint(eager=True)

    def global_rank(bucket: Column, order_cols: list[Column], out: str):
        """Exact 1-based rank on a total order without a global sort:
        exclusive prefix over the bounded bucket histogram + a
        partitioned within-bucket row_number. ``bucket`` must be
        monotone non-decreasing in the order."""
        d = base.withColumn("_bk", bucket)
        h = d.groupBy("_bk").agg(F.count(F.lit(1)).alias("_c"))
        wb = Window.orderBy("_bk").rowsBetween(
            Window.unboundedPreceding, -1
        )
        off = h.select(
            "_bk",
            F.coalesce(F.sum("_c").over(wb), F.lit(0)).alias("_off"),
        )
        wd = Window.partitionBy("_bk").orderBy(*order_cols)
        # no forced broadcast hint on the bucket-offset side: bounded
        # by the value domain but derived from fact keys, so the
        # broadcast-policy checker can't bound it statically — AQE
        # broadcasts it at runtime from its actual (tiny) size.
        return (
            d.join(off, "_bk")
            .select(
                "custkey",
                (F.col("_off") + F.row_number().over(wd)).alias(out),
            )
        )

    # lower r_days = better recency => r_score 5 for the most recent;
    # rank ascends on (-r_days, custkey) = ntile order (r_days DESC).
    r_rank = global_rank(-F.col("r_days"), [F.col("custkey")], "rn_r")
    f_rank = global_rank(F.col("frequency"), [F.col("custkey")], "rn_f")
    m_rank = global_rank(
        F.shiftright(F.col("cents"), 16),
        [F.col("cents"), F.col("custkey")],
        "rn_m",
    )
    n_tot = base.agg(F.count(F.lit(1)).alias("n_cust"))

    def tile(rn: Column) -> Column:
        """Standard ntile(5): q=n//5, r=n%5; first r tiles take q+1
        rows. Integer ceil via (a+b-1) div b."""
        q = F.expr("n_cust div 5")
        r = F.col("n_cust") % 5
        big = r * (q + F.lit(1))
        in_big = F.floor((rn + q) / (q + F.lit(1))).cast("int")
        in_small = (
            r + F.floor((rn - big + q - F.lit(1)) / q)
        ).cast("int")
        return F.when(rn <= big, in_big).otherwise(in_small)

    scored = (
        base.join(r_rank, "custkey")
        .join(f_rank, "custkey")
        .join(m_rank, "custkey")
        .join(F.broadcast(n_tot))
        .select(
            "custkey",
            "r_days",
            "frequency",
            "monetary",
            tile(F.col("rn_r")).alias("r_score"),
            tile(F.col("rn_f")).alias("f_score"),
            tile(F.col("rn_m")).alias("m_score"),
        )
    )
    seg = (
        F.when(
            (F.col("r_score") >= 4) & (F.col("f_score") >= 4), "champion"
        )
        .when((F.col("r_score") >= 4) & (F.col("f_score") <= 2), "new")
        .when((F.col("r_score") <= 2) & (F.col("f_score") >= 4), "at_risk")
        .when((F.col("r_score") <= 2) & (F.col("f_score") <= 2), "lost")
        .otherwise("regular")
    )
    return scored.select(
        "custkey",
        "r_days",
        "frequency",
        pround(F.col("monetary")).alias("monetary"),
        "r_score",
        "f_score",
        "m_score",
        seg.alias("segment"),
    )


QUERIES = {
    "rfm_segments": rfm_segments,
    "q1_pricing_summary": q1_pricing_summary,
    "q3_shipping_priority": q3_shipping_priority,
    "q5_local_supplier": q5_local_supplier,
    "revenue_by_nation": revenue_by_nation,
    "big_spender_orders": big_spender_orders,
    "promo_revenue": promo_revenue,
    "order_priority_count": order_priority_count,
    "q7_volume_shipping": q7_volume_shipping,
    "q10_returned_items": q10_returned_items,
    "q13_customer_distribution": q13_customer_distribution,
    "q17_small_quantity_revenue": q17_small_quantity_revenue,
    "q22_global_sales_opportunity": q22_global_sales_opportunity,
    "q19_discounted_revenue": q19_discounted_revenue,
    "late_supplier_blame": late_supplier_blame,
    "q20_surplus_suppliers": q20_surplus_suppliers,
    "q2_min_cost_supplier": q2_min_cost_supplier,
    "q6_forecast_revenue": q6_forecast_revenue,
    "q8_market_share": q8_market_share,
    "q9_product_profit": q9_product_profit,
    "q11_important_stock": q11_important_stock,
    "q12_ship_delay_priority": q12_ship_delay_priority,
    "q15_top_supplier": q15_top_supplier,
    "q16_supplier_part_variety": q16_supplier_part_variety,
    "cohort_retention": cohort_retention,
    "basket_affinity": basket_affinity,
    "bloom_prefilter_report": bloom_prefilter_report,
}

_BLOOM_BBITS_SQL = " UNION ALL ".join(
    "SELECT "
    + md5_long_sql(f"'bl{j}:' || CAST(key AS VARCHAR)")
    + f" % {BLOOM_M} AS bit FROM build"
    for j in range(BLOOM_K)
)
_BLOOM_PB_SQL = " UNION ALL ".join(
    "SELECT c_custkey AS key, "
    + md5_long_sql(f"'bl{j}:' || CAST(c_custkey AS VARCHAR)")
    + f" % {BLOOM_M} AS bit FROM customer"
    for j in range(BLOOM_K)
)

ORACLES = {
    "bloom_prefilter_report": f"""
        WITH build AS (
            SELECT DISTINCT o_custkey AS key FROM orders
            WHERE o_totalprice > {BLOOM_SEL}
        ),
        bbits AS (
            SELECT DISTINCT bit FROM ({_BLOOM_BBITS_SQL})
        ),
        pb AS (
            SELECT DISTINCT key, bit FROM ({_BLOOM_PB_SQL})
        ),
        nb AS (SELECT key, COUNT(*) AS nb FROM pb GROUP BY 1),
        nh AS (SELECT key, COUNT(*) AS nh
               FROM pb JOIN bbits USING (bit) GROUP BY 1),
        member AS (
            SELECT c.c_custkey AS key, b.key IS NOT NULL AS is_member
            FROM customer c LEFT JOIN build b ON b.key = c.c_custkey
        ),
        per AS (
            SELECT m.key, COALESCE(h.nh, 0) = n.nb AS passed, m.is_member
            FROM nb n JOIN member m USING (key) LEFT JOIN nh h USING (key)
        ),
        stats AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS n_probe,
                   CAST(SUM(CASE WHEN passed THEN 1 ELSE 0 END) AS BIGINT) AS n_pass,
                   CAST(SUM(CASE WHEN is_member THEN 1 ELSE 0 END) AS BIGINT) AS n_members,
                   CAST(SUM(CASE WHEN passed AND NOT is_member THEN 1 ELSE 0 END) AS BIGINT) AS n_false_pos,
                   CAST(SUM(CASE WHEN is_member AND NOT passed THEN 1 ELSE 0 END) AS BIGINT) AS n_false_neg
            FROM per
        ),
        sizes AS (
            SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM build) AS n_build_keys,
                   (SELECT CAST(COUNT(*) AS BIGINT) FROM bbits) AS n_bits_set
        )
        SELECT n_build_keys, n_bits_set, n_probe, n_pass, n_members,
               n_false_pos, n_false_neg,
               CASE WHEN n_probe - n_members > 0 THEN
                   {pround_sql('CAST(n_false_pos AS DOUBLE) / CAST(n_probe - n_members AS DOUBLE)')}
               ELSE 0.0 END AS fp_rate
        FROM stats, sizes
    """,
    "cohort_retention": """
        WITH act AS (
            SELECT DISTINCT o_custkey AS custkey,
                   CAST(year(o_orderdate) * 4
                        + (month(o_orderdate) - 1) // 3 AS BIGINT) AS qi
            FROM orders
        ),
        first AS (
            SELECT custkey, MIN(qi) AS cohort_qi FROM act GROUP BY 1
        ),
        cells AS (
            SELECT f.cohort_qi, CAST(a.qi - f.cohort_qi AS INTEGER) AS offset_q,
                   CAST(COUNT(*) AS BIGINT) AS n_active
            FROM act a JOIN first f USING (custkey)
            GROUP BY 1, 2
        )
        SELECT cohort_qi, offset_q, n_active,
               CAST(MAX(CASE WHEN offset_q = 0 THEN n_active END)
                    OVER (PARTITION BY cohort_qi) AS BIGINT) AS cohort_size,
               (FLOOR(CAST(CAST(n_active AS DOUBLE)
                    / CAST(MAX(CASE WHEN offset_q = 0 THEN n_active END)
                           OVER (PARTITION BY cohort_qi) AS DOUBLE) AS DOUBLE)
                    * 10000.0 + 0.5) / 10000.0) AS retention
        FROM cells
    """,
    "basket_affinity": f"""
        WITH li AS (
            SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem
        ),
        n_orders AS (SELECT CAST(COUNT(DISTINCT ok) AS BIGINT) AS n_orders FROM li),
        per_part AS (
            SELECT pk, CAST(COUNT(*) AS BIGINT) AS n_part FROM li GROUP BY 1
        ),
        pairs AS (
            SELECT a.pk AS part_a, b.pk AS part_b, CAST(COUNT(*) AS BIGINT) AS n_ab
            FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk
            GROUP BY 1, 2
            HAVING COUNT(*) >= {BASKET_MIN_SUPPORT}
        )
        SELECT part_a, part_b, n_ab,
               na.n_part AS n_a, nb.n_part AS n_b,
               (FLOOR(CAST(CAST(n_ab AS DOUBLE) * CAST(n_orders AS DOUBLE)
                    / (CAST(na.n_part AS DOUBLE) * CAST(nb.n_part AS DOUBLE)) AS DOUBLE)
                    * 10000.0 + 0.5) / 10000.0) AS lift
        FROM pairs
        JOIN per_part na ON na.pk = part_a
        JOIN per_part nb ON nb.pk = part_b
        CROSS JOIN n_orders
        ORDER BY n_ab DESC, part_a, part_b
        LIMIT {BASKET_TOP_N}
    """,
    "q1_pricing_summary": f"""
        SELECT l_returnflag, l_linestatus,
               (FLOOR(CAST((CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)) AS DOUBLE) * 10000.0 + 0.5) / 10000.0) AS sum_qty,
               (FLOOR(CAST((CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)) AS DOUBLE) * 10000.0 + 0.5) / 10000.0) AS sum_base_price,
               (FLOOR(CAST((CAST(SUM({_DISC_SQL}) AS DOUBLE)) AS DOUBLE) * 10000.0 + 0.5) / 10000.0) AS sum_disc_price,
               (FLOOR(CAST((CAST(SUM({_CHARGE_SQL}) AS DOUBLE)) AS DOUBLE) * 10000.0 + 0.5) / 10000.0) AS sum_charge,
               (FLOOR(CAST((CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*)) AS DOUBLE) * 10000.0 + 0.5) / 10000.0) AS avg_qty,
               (FLOOR(CAST((CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*)) AS DOUBLE) * 10000.0 + 0.5) / 10000.0) AS avg_price,
               (FLOOR(CAST((CAST(SUM(CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*)) AS DOUBLE) * 10000.0 + 0.5) / 10000.0) AS avg_disc,
               CAST(COUNT(*) AS BIGINT) AS count_order
        FROM lineitem
        WHERE l_shipdate <= TIMESTAMP '2000-09-02'
        GROUP BY 1, 2
    """,
    "q3_shipping_priority": f"""
        SELECT l_orderkey, o_orderdate, o_orderpriority,
               (FLOOR(CAST((CAST(SUM({_DISC_SQL}) AS DOUBLE)) AS DOUBLE) * 10000.0 + 0.5) / 10000.0) AS revenue
        FROM lineitem
        JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        WHERE c_mktsegment = 'BUILDING'
          AND o_orderdate < TIMESTAMP '1998-01-01'
          AND l_shipdate > TIMESTAMP '1998-01-01'
        GROUP BY 1, 2, 3
        ORDER BY revenue DESC, o_orderdate ASC, l_orderkey ASC
        LIMIT 10
    """,
    "q5_local_supplier": f"""
        SELECT n_name,
               (FLOOR(CAST((CAST(SUM({_DISC_SQL}) AS DOUBLE)) AS DOUBLE) * 10000.0 + 0.5) / 10000.0) AS revenue
        FROM lineitem
        JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        JOIN nation ON s_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
        WHERE r_name = 'ASIA'
          AND o_orderdate >= TIMESTAMP '1996-01-01'
          AND o_orderdate < TIMESTAMP '1997-01-01'
        GROUP BY 1
    """,
    "revenue_by_nation": f"""
        SELECT r_name AS region_name, n_name AS nation_name,
               (FLOOR(CAST((CAST(SUM({_DISC_SQL}) AS DOUBLE)) AS DOUBLE) * 10000.0 + 0.5) / 10000.0) AS revenue,
               CAST(COUNT(DISTINCT o_orderkey) AS BIGINT) AS n_orders
        FROM lineitem
        JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN nation ON c_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
        GROUP BY 1, 2
    """,
    "big_spender_orders": """
        WITH big AS (
            SELECT l_orderkey, SUM(CAST(l_quantity AS DECIMAL(18,2))) AS qty_dec
            FROM lineitem GROUP BY 1
            HAVING SUM(CAST(l_quantity AS DECIMAL(18,2))) > 150
        )
        SELECT c_name, o_orderkey, o_orderdate,
               (FLOOR(CAST((o_totalprice) AS DOUBLE) * 10000.0 + 0.5) / 10000.0) AS o_totalprice,
               CAST(qty_dec AS DOUBLE) AS total_qty
        FROM orders
        JOIN big ON o_orderkey = big.l_orderkey
        JOIN customer ON o_custkey = c_custkey
        ORDER BY o_totalprice DESC, o_orderkey ASC
        LIMIT 100
    """,
    "promo_revenue": f"""
        SELECT (FLOOR(CAST((CAST(SUM(CASE WHEN p_type = 'PROMO' THEN {_DISC_SQL}
                                   ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE) * 100.0
                     / CAST(SUM({_DISC_SQL}) AS DOUBLE)) AS DOUBLE) * 10000.0 + 0.5) / 10000.0) AS promo_pct
        FROM lineitem
        JOIN part ON l_partkey = p_partkey
        WHERE l_shipdate >= TIMESTAMP '1996-03-01'
          AND l_shipdate < TIMESTAMP '1996-04-01'
    """,
    "q7_volume_shipping": f"""
        SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
               CAST(year(l_shipdate) AS INT) AS l_year,
               (FLOOR(CAST((CAST(SUM({_DISC_SQL}) AS DOUBLE)) AS DOUBLE) * 10000.0 + 0.5) / 10000.0) AS revenue
        FROM lineitem
        JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN nation n1 ON s_nationkey = n1.n_nationkey
        JOIN nation n2 ON c_nationkey = n2.n_nationkey
        WHERE l_shipdate >= TIMESTAMP '1996-01-01'
          AND l_shipdate < TIMESTAMP '1998-01-01'
          AND ((n1.n_name = 'NATION_20' AND n2.n_name = 'NATION_11')
            OR (n1.n_name = 'NATION_11' AND n2.n_name = 'NATION_20'))
        GROUP BY 1, 2, 3
    """,
    "q10_returned_items": f"""
        SELECT c_custkey, c_name,
               (FLOOR(CAST((c_acctbal) AS DOUBLE) * 10000.0 + 0.5) / 10000.0) AS c_acctbal,
               n_name,
               (FLOOR(CAST((CAST(SUM({_DISC_SQL}) AS DOUBLE)) AS DOUBLE) * 10000.0 + 0.5) / 10000.0) AS revenue
        FROM lineitem
        JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN nation ON c_nationkey = n_nationkey
        WHERE o_orderdate >= TIMESTAMP '1996-10-01'
          AND o_orderdate < TIMESTAMP '1997-01-01'
          AND l_returnflag = 'R'
        GROUP BY 1, 2, 3, 4
        ORDER BY revenue DESC, c_custkey ASC
        LIMIT 20
    """,
    "q13_customer_distribution": """
        SELECT c_count, CAST(COUNT(*) AS BIGINT) AS custdist
        FROM (
            SELECT c_custkey, CAST(COUNT(o_orderkey) AS BIGINT) AS c_count
            FROM customer LEFT JOIN orders ON c_custkey = o_custkey
            GROUP BY 1
        )
        GROUP BY 1
    """,
    "q17_small_quantity_revenue": """
        WITH per_part AS (
            SELECT l_partkey AS p_key,
                   SUM(CAST(l_quantity AS DECIMAL(18,2))) AS qty_sum,
                   COUNT(*) AS qty_cnt
            FROM lineitem GROUP BY 1
        )
        SELECT (FLOOR(CAST((CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) / 7 AS DOUBLE)) AS DOUBLE) * 10000.0 + 0.5) / 10000.0) AS avg_yearly
        FROM lineitem JOIN per_part ON l_partkey = p_key
        WHERE CAST(l_quantity AS DECIMAL(18,2)) * 5 * qty_cnt < qty_sum
    """,
    "q22_global_sales_opportunity": f"""
        WITH stats AS (
            SELECT SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS tot_bal, COUNT(*) AS n_pos
            FROM customer WHERE c_acctbal > 0
        )
        SELECT CAST(c_nationkey % 5 AS BIGINT) AS cntry_grp,
               CAST(COUNT(*) AS BIGINT) AS numcust,
               (FLOOR(CAST(({sum_exact_sql('c_acctbal')}) AS DOUBLE) * 10000.0 + 0.5) / 10000.0) AS totacctbal
        FROM customer, stats
        WHERE CAST(c_acctbal AS DECIMAL(18,2)) * n_pos > tot_bal
          AND NOT EXISTS (SELECT 1 FROM orders
                          WHERE o_custkey = c_custkey
                            AND o_orderdate >= TIMESTAMP '1999-01-01')
        GROUP BY 1
    """,
    "q19_discounted_revenue": f"""
        SELECT (FLOOR(CAST((CAST(SUM({_DISC_SQL}) AS DOUBLE)) AS DOUBLE) * 10000.0 + 0.5) / 10000.0) AS revenue
        FROM lineitem JOIN part ON l_partkey = p_partkey
        WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 1 AND 11)
           OR (p_brand = 'Brand#2' AND p_size BETWEEN 1 AND 25 AND l_quantity BETWEEN 10 AND 20)
           OR (p_type = 'PROMO' AND p_size BETWEEN 1 AND 35 AND l_quantity BETWEEN 20 AND 30)
    """,
    "late_supplier_blame": """
        WITH per_order AS (
            SELECT l_orderkey,
                   COUNT(DISTINCT l_suppkey) AS n_supp,
                   COUNT(DISTINCT CASE WHEN l_shipdate > o_orderdate + INTERVAL 60 DAY
                                       THEN l_suppkey END) AS n_late,
                   MIN(CASE WHEN l_shipdate > o_orderdate + INTERVAL 60 DAY
                            THEN l_suppkey END) AS late_supp
            FROM lineitem JOIN orders ON l_orderkey = o_orderkey
            GROUP BY 1
        )
        SELECT s_name, CAST(COUNT(*) AS BIGINT) AS numwait
        FROM per_order JOIN supplier ON late_supp = s_suppkey
        WHERE n_supp >= 2 AND n_late = 1
        GROUP BY 1
        ORDER BY numwait DESC, s_name ASC
        LIMIT 20
    """,
    "order_priority_count": """
        SELECT o_orderpriority,
               CAST(COUNT(*) AS BIGINT) AS order_count
        FROM orders
        WHERE o_orderdate >= TIMESTAMP '1996-07-01'
          AND o_orderdate < TIMESTAMP '1996-10-01'
          AND EXISTS (
              SELECT 1 FROM lineitem
              WHERE l_orderkey = o_orderkey
                AND l_shipdate > o_orderdate + INTERVAL 60 DAY
          )
        GROUP BY 1
    """,
    "q20_surplus_suppliers": """
        SELECT s_name, s_acctbal
        FROM supplier JOIN nation ON s_nationkey = n_nationkey
        WHERE n_nationkey % 2 = 0
          AND s_suppkey IN (
              SELECT l_suppkey FROM lineitem
              WHERE l_partkey IN (SELECT p_partkey FROM part WHERE p_name LIKE 'small%')
                AND l_shipdate >= TIMESTAMP '1995-01-01'
                AND l_shipdate < TIMESTAMP '1996-01-01'
              GROUP BY l_partkey, l_suppkey
              HAVING SUM(CASE WHEN l_shipdate < TIMESTAMP '1995-07-01'
                              THEN CAST(l_quantity AS DECIMAL(18,2))
                              ELSE CAST(0 AS DECIMAL(18,2)) END) > 0
                 AND SUM(CASE WHEN l_shipdate >= TIMESTAMP '1995-07-01'
                              THEN CAST(l_quantity AS DECIMAL(18,2))
                              ELSE CAST(0 AS DECIMAL(18,2)) END) * 2
                     > SUM(CASE WHEN l_shipdate < TIMESTAMP '1995-07-01'
                                THEN CAST(l_quantity AS DECIMAL(18,2))
                                ELSE CAST(0 AS DECIMAL(18,2)) END)
          )
        ORDER BY s_name
    """,
    "q2_min_cost_supplier": """
        WITH per_ps AS (
            SELECT p_partkey, p_name, l_suppkey,
                   CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_price
            FROM lineitem JOIN part ON l_partkey = p_partkey
            WHERE p_name LIKE 'red%'
            GROUP BY 1, 2, 3
        ),
        eligible AS (
            SELECT per_ps.*, s_name, n_name
            FROM per_ps
            JOIN supplier ON l_suppkey = s_suppkey
            JOIN nation ON s_nationkey = n_nationkey
            WHERE n_nationkey % 2 = 0
        ),
        ranked AS (
            SELECT *, ROW_NUMBER() OVER (
                PARTITION BY p_partkey ORDER BY avg_price ASC, l_suppkey ASC) AS rk
            FROM eligible
        )
        SELECT p_partkey, p_name, s_name, n_name AS nation,
               (FLOOR(CAST((avg_price) AS DOUBLE) * 10000.0 + 0.5) / 10000.0) AS min_avg_price
        FROM ranked WHERE rk = 1
        ORDER BY min_avg_price ASC, p_partkey ASC
        LIMIT 20
    """,
    "q6_forecast_revenue": f"""
        SELECT (FLOOR(CAST((CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE)) AS DOUBLE) * 10000.0 + 0.5) / 10000.0) AS revenue
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1996-01-01'
          AND l_shipdate <  TIMESTAMP '1997-01-01'
          AND l_discount >= 0.02 AND l_discount <= 0.04
          AND l_quantity < 24
    """,
    "q8_market_share": f"""
        SELECT CAST(year(o_orderdate) AS INTEGER) AS o_year,
               (FLOOR(CAST((CAST(SUM({_DISC_SQL}) AS DOUBLE)) AS DOUBLE) * 10000.0 + 0.5) / 10000.0) AS total_volume,
               (FLOOR(CAST((
                   CAST(SUM(CASE WHEN sn.n_name = 'NATION_2' THEN {_DISC_SQL}
                                 ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE)
                   / CAST(SUM({_DISC_SQL}) AS DOUBLE)
               ) AS DOUBLE) * 10000.0 + 0.5) / 10000.0) AS mkt_share
        FROM lineitem
        JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN nation cn ON c_nationkey = cn.n_nationkey
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN nation sn ON s_nationkey = sn.n_nationkey
        WHERE cn.n_regionkey = 1
          AND o_orderdate >= TIMESTAMP '1995-01-01'
          AND o_orderdate <  TIMESTAMP '1997-01-01'
        GROUP BY 1
    """,
    "q9_product_profit": f"""
        SELECT n_name AS nation, CAST(year(l_shipdate) AS INTEGER) AS o_year,
               (FLOOR(CAST((CAST(SUM(
                   {_DISC_SQL} - CAST(0.5 AS DECIMAL(18,2)) * CAST(p_retailprice AS DECIMAL(18,2)) * CAST(l_quantity AS DECIMAL(18,2))
               ) AS DOUBLE)) AS DOUBLE) * 10000.0 + 0.5) / 10000.0) AS sum_profit
        FROM lineitem
        JOIN part ON l_partkey = p_partkey
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN nation ON s_nationkey = n_nationkey
        WHERE p_name LIKE 'blue%'
        GROUP BY 1, 2
    """,
    "q11_important_stock": """
        WITH odd_supp AS (
            SELECT s_suppkey FROM supplier JOIN nation ON s_nationkey = n_nationkey
            WHERE n_nationkey % 2 = 1
        ),
        per_part AS (
            SELECT l_partkey,
                   SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS value_dec
            FROM lineitem SEMI JOIN odd_supp ON l_suppkey = s_suppkey
            GROUP BY 1
        )
        SELECT l_partkey AS p_partkey,
               (FLOOR(CAST((CAST(value_dec AS DOUBLE)) AS DOUBLE) * 10000.0 + 0.5) / 10000.0) AS part_value
        FROM per_part, (SELECT SUM(value_dec) AS total_dec FROM per_part) t
        WHERE value_dec * 1000 > total_dec
        ORDER BY part_value DESC, p_partkey ASC
    """,
    "q12_ship_delay_priority": """
        SELECT CASE WHEN date_diff('day', o_orderdate, l_shipdate) < 30 THEN 'fast'
                    WHEN date_diff('day', o_orderdate, l_shipdate) <= 90 THEN 'normal'
                    ELSE 'slow' END AS delay_bucket,
               CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
               CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
        FROM lineitem
        JOIN orders ON l_orderkey = o_orderkey
        WHERE o_orderdate >= TIMESTAMP '1996-01-01'
          AND o_orderdate <  TIMESTAMP '1997-01-01'
        GROUP BY 1
    """,
    "q15_top_supplier": """
        WITH revenue AS (
            SELECT l_suppkey,
                   SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS rev_dec
            FROM lineitem
            WHERE l_shipdate >= TIMESTAMP '1996-01-01'
              AND l_shipdate <  TIMESTAMP '1996-04-01'
            GROUP BY 1
        )
        SELECT s_suppkey, s_name,
               (FLOOR(CAST((CAST(rev_dec AS DOUBLE)) AS DOUBLE) * 10000.0 + 0.5) / 10000.0) AS total_revenue
        FROM revenue, (SELECT MAX(rev_dec) AS max_dec FROM revenue) t
        JOIN supplier ON l_suppkey = s_suppkey
        WHERE rev_dec = max_dec
        ORDER BY s_suppkey
    """,
    "q16_supplier_part_variety": """
        WITH pairs AS (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem),
        ok_pairs AS (
            SELECT * FROM pairs
            ANTI JOIN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0) c
            ON l_suppkey = c.s_suppkey
        )
        SELECT p_brand, p_type, p_size,
               CAST(COUNT(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
        FROM ok_pairs
        JOIN part ON l_partkey = p_partkey
        WHERE p_brand <> 'Brand#1' AND p_size <= 25
        GROUP BY 1, 2, 3
        ORDER BY supplier_cnt DESC, p_brand ASC, p_type ASC, p_size ASC
        LIMIT 40
    """,
}


ORACLES["rfm_segments"] = f"""
    WITH per AS (
        SELECT o_custkey AS custkey,
               MAX(o_orderdate) AS last_order,
               CAST(COUNT(*) AS BIGINT) AS frequency,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
                    AS DOUBLE) AS monetary
        FROM orders GROUP BY 1
    ),
    mx AS (SELECT MAX(o_orderdate) AS max_date FROM orders),
    base AS (
        SELECT custkey,
               CAST(date_diff('day', last_order, max_date) AS BIGINT)
                   AS r_days,
               frequency, monetary
        FROM per, mx
    ),
    scored AS (
        SELECT *,
               NTILE(5) OVER (ORDER BY r_days DESC, custkey) AS r_score,
               NTILE(5) OVER (ORDER BY frequency ASC, custkey) AS f_score,
               NTILE(5) OVER (ORDER BY monetary ASC, custkey) AS m_score
        FROM base
    )
    SELECT custkey, r_days, frequency,
           {pround_sql('monetary')} AS monetary,
           CAST(r_score AS INTEGER) AS r_score,
           CAST(f_score AS INTEGER) AS f_score,
           CAST(m_score AS INTEGER) AS m_score,
           CASE
               WHEN r_score >= 4 AND f_score >= 4 THEN 'champion'
               WHEN r_score >= 4 AND f_score <= 2 THEN 'new'
               WHEN r_score <= 2 AND f_score >= 4 THEN 'at_risk'
               WHEN r_score <= 2 AND f_score <= 2 THEN 'lost'
               ELSE 'regular'
           END AS segment
    FROM scored
"""


IVM_DELTA_MOD = 20  # orders with o_orderkey % 20 == 0 form the delta batch


def ivm_merge_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental view maintenance of a per-customer spend view: the
    materialized view (orders before the batch) and the DELTA view
    (the new batch alone) are both partial aggregates of the same
    commutative monoid (count, exact-decimal sum, max), so applying
    the batch is a MERGE — re-aggregate the union of the two partial
    states, touching O(|delta| + |affected keys|) rows, never the
    base fact table. This is the maintenance path every continuous
    aggregate / materialized view engine runs on ingest
    (``rollup_cascade`` proves the time-hierarchy version; this
    proves the arbitrary-key IVM version).

    The deterministic batch split (``o_orderkey % IVM_DELTA_MOD``)
    stands in for the ingest boundary so both engines see the same
    partition. The ORACLE AGGREGATES ALL ORDERS DIRECTLY — the hash
    match IS the mergeability proof (merge(partial(base),
    partial(delta)) ≡ full recompute), exactly the
    ``rollup_cascade`` oracle discipline.

    Scale shape: two keyed partial aggregates (in production the base
    one is the STORED view — zero cost), one union re-aggregate keyed
    on the customer key, one broadcast-size dim join for the name.
    Exactness: counts BIGINT, money in DECIMAL(18,2) end to end.
    """
    orders = spread(table(spark, sf_dir, "orders"), "o_orderkey")
    cust = table(spark, sf_dir, "customer").select(
        "c_custkey", "c_name"
    )
    base = orders.filter(
        F.col("o_orderkey") % IVM_DELTA_MOD != 0
    )
    delta = orders.filter(
        F.col("o_orderkey") % IVM_DELTA_MOD == 0
    )

    def partial(df: DataFrame) -> DataFrame:
        return df.groupBy("o_custkey").agg(
            F.count(F.lit(1)).cast("long").alias("n_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias(
                "spent"
            ),
            F.max(F.col("o_totalprice").cast("decimal(18,2)")).alias(
                "max_order"
            ),
        )

    merged = (
        partial(base)
        .unionByName(partial(delta))
        .groupBy("o_custkey")
        .agg(
            F.sum("n_orders").cast("long").alias("n_orders"),
            F.sum("spent").cast("decimal(18,2)").alias("spent"),
            F.max("max_order").cast("decimal(18,2)").alias("max_order"),
        )
    )
    return merged.join(
        cust, merged.o_custkey == cust.c_custkey
    ).select(
        "c_custkey",
        "c_name",
        "n_orders",
        F.col("spent").cast("double").alias("total_spent"),
        F.col("max_order").cast("double").alias("max_order"),
    )


QUERIES["ivm_merge_view"] = ivm_merge_view

# The oracle deliberately aggregates ALL orders in one pass: equality
# with the Spark merge path is the IVM mergeability proof.
ORACLES["ivm_merge_view"] = """
    SELECT c.c_custkey,
           c.c_name,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
               AS total_spent,
           CAST(MAX(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
               AS max_order
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    GROUP BY 1, 2
"""
