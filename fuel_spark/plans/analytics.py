"""Analytic query library — the bench headliners.

TPC-H-shaped queries over the star schema plus event-stream analytics.
All aggregations of doubles go through exact DECIMAL accumulation and
cast to DOUBLE at the end: associative-order differences between
engines (and between cluster sizes!) then cannot change a single bit
of output — determinism at any parallelism, which is also why the
DuckDB oracle matches.

Scale notes per query are inline; dims are broadcast, facts shuffle on
join keys once, filters sit directly on scan columns for pushdown.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.functions import broadcast

from fuel_spark.functions import materialize

DEC = "decimal(27,6)"


def _dsum(expr) -> F.Column:
    """Exact decimal sum → double (deterministic under reordering)."""
    return F.sum(expr.cast(DEC)).cast("double")


def pricing_summary(t: dict[str, DataFrame]) -> DataFrame:
    """FLAGSHIP — TPC-H Q1 shape: pricing summary report.

    Scan-heavy single-table agg; the filter pushes to parquet, the
    groupBy has 4 groups so partial aggregation collapses nearly all
    rows map-side.  Scales linearly with lineitem bytes.

    ensure_parallelism widens a scan of fewer files than cores (a
    single-row-group file parallelizes the decimal aggregation 1.7×
    measured at sf0.1); the filter still pushes to parquet below the
    exchange (plan-asserted).  A scan of at least that many files is
    left alone, so partial aggregation still runs before any shuffle:
    at 20× (22 lineitem files, 4 cores) the exchange took the median
    from 11.1 to 16.3 s.
    """
    from fuel_spark.functions import ensure_parallelism

    l = t["lineitem"]
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = disc_price * (1 + F.col("l_tax"))
    return (
        ensure_parallelism(
            l.where(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        )
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            _dsum(F.col("l_quantity")).alias("sum_qty"),
            _dsum(F.col("l_extendedprice")).alias("sum_base_price"),
            _dsum(disc_price).alias("sum_disc_price"),
            _dsum(charge).alias("sum_charge"),
            # avgs as exact-decimal sum ÷ count (not F.avg): identical
            # double result on any engine / any partitioning
            F.round(
                (F.sum(F.col("l_quantity").cast(DEC)).cast("double")
                 / F.count(F.lit(1))), 6
            ).alias("avg_qty"),
            F.round(
                (F.sum(F.col("l_extendedprice").cast(DEC)).cast("double")
                 / F.count(F.lit(1))), 6
            ).alias("avg_price"),
            F.round(
                (F.sum(F.col("l_discount").cast(DEC)).cast("double")
                 / F.count(F.lit(1))), 6
            ).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


def revenue_forecast(t: dict[str, DataFrame]) -> DataFrame:
    """TPC-H Q6 shape: selective scan + single scalar agg.  Pure
    pushdown showcase — all three predicates reach the parquet reader,
    no shuffle at all (partial sums coalesce to one row)."""
    l = t["lineitem"]
    return (
        l.where(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_discount") >= 0.03)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(_dsum(F.col("l_extendedprice") * F.col("l_discount")).alias("revenue"))
    )


def top_revenue_orders(t: dict[str, DataFrame], limit: int = 10) -> DataFrame:
    """TPC-H Q3 shape: customer ⋈ orders ⋈ lineitem, top-k revenue.

    customer is broadcast (dim); orders⋈lineitem shuffles on orderkey.
    Top-k via global sort-limit — Spark executes as per-partition
    TakeOrdered, no full sort materialization.
    """
    c = t["customer"].where(F.col("c_mktsegment") == "BUILDING")
    o = t["orders"].where(F.col("o_orderdate") < F.lit("1997-06-01").cast("timestamp"))
    l = t["lineitem"]
    return (
        broadcast(c.select("c_custkey"))
        .join(o, F.col("c_custkey") == F.col("o_custkey"))
        .join(l, F.col("o_orderkey") == F.col("l_orderkey"))
        .groupBy("o_orderkey", "o_orderdate")
        .agg(
            _dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue")
        )
        .orderBy(F.col("revenue").desc(), F.col("o_orderkey"))
        .limit(limit)
    )


def regional_revenue(t: dict[str, DataFrame]) -> DataFrame:
    """TPC-H Q5 shape: 5-way star join.

    region→nation→customer chain stays broadcast end-to-end; the only
    real shuffle is orders⋈lineitem on orderkey.  supplier-nation
    match condition included per Q5 semantics.
    """
    r = t["region"]
    n = t["nation"]
    c = t["customer"]
    o = t["orders"].where(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    l = t["lineitem"]
    dims = (
        r.join(n, F.col("n_regionkey") == F.col("r_regionkey"))
        .join(c, F.col("c_nationkey") == F.col("n_nationkey"))
        .select("r_name", "n_name", "n_nationkey", "c_custkey")
    )
    return (
        l.join(broadcast(t["supplier"].select("s_suppkey", "s_nationkey")),
               F.col("l_suppkey") == F.col("s_suppkey"))
        .join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(broadcast(dims),
              (F.col("o_custkey") == F.col("c_custkey"))
              & (F.col("s_nationkey") == F.col("n_nationkey")))
        .groupBy("n_name")
        .agg(_dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"))
        .orderBy(F.col("revenue").desc(), F.col("n_name"))
    )


def order_priority_counts(t: dict[str, DataFrame]) -> DataFrame:
    """TPC-H Q4 shape: EXISTS semi-join orders ← lineitem.

    left_semi avoids materializing the join payload — at scale the
    probe side streams and only order keys shuffle.
    """
    o = t["orders"].where(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-07-01").cast("timestamp"))
    )
    l = t["lineitem"]
    return (
        o.join(
            l.select("l_orderkey").distinct(),
            F.col("o_orderkey") == F.col("l_orderkey"),
            "left_semi",
        )
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
        .orderBy("o_orderpriority")
    )


def market_share(t: dict[str, DataFrame]) -> DataFrame:
    """Q8-ish: yearly revenue share of one supplier nation within a
    region's market.  Two-level agg on top of the star join."""
    n = t["nation"]
    r = t["region"]
    c = t["customer"]
    s = t["supplier"]
    o = t["orders"]
    l = t["lineitem"]
    cust_dims = (
        r.join(n, F.col("n_regionkey") == F.col("r_regionkey"))
        .join(c, F.col("c_nationkey") == F.col("n_nationkey"))
        .select(F.col("r_name"), F.col("c_custkey"))
    )
    supp_nat = s.join(
        n.select(F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation")),
        F.col("s_nationkey") == F.col("sn_key"),
    ).select("s_suppkey", "supp_nation")
    vol = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        l.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(broadcast(cust_dims), F.col("o_custkey") == F.col("c_custkey"))
        .join(broadcast(supp_nat), F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy(
            F.col("r_name"),
            F.year("o_orderdate").cast("bigint").alias("o_year"),
            F.col("supp_nation"),
        )
        .agg(_dsum(vol).alias("nation_volume"))
        .orderBy("r_name", "o_year", "supp_nation")
    )


def volume_shipping(t: dict[str, DataFrame]) -> DataFrame:
    """Q7 shape: trade volume between a nation pair, by direction and
    year.  Both nation dims broadcast; the fact⋈fact shuffle on
    orderkey is the only wide edge."""
    n1 = t["nation"].select(
        F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation")
    )
    n2 = t["nation"].select(
        F.col("n_nationkey").alias("cn_key"), F.col("n_name").alias("cust_nation")
    )
    pair = (
        (F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2")
    ) | ((F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1"))
    return (
        t["lineitem"]
        .join(broadcast(t["supplier"].select("s_suppkey", "s_nationkey")),
              F.col("l_suppkey") == F.col("s_suppkey"))
        .join(broadcast(n1), F.col("s_nationkey") == F.col("sn_key"))
        .join(t["orders"].select("o_orderkey", "o_custkey"),
              F.col("l_orderkey") == F.col("o_orderkey"))
        .join(broadcast(t["customer"].select("c_custkey", "c_nationkey")),
              F.col("o_custkey") == F.col("c_custkey"))
        .join(broadcast(n2), F.col("c_nationkey") == F.col("cn_key"))
        .where(pair)
        .groupBy(
            "supp_nation", "cust_nation",
            F.year("l_shipdate").cast("bigint").alias("l_year"),
        )
        .agg(_dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("volume"))
        .orderBy("supp_nation", "cust_nation", "l_year")
    )


def product_profit(t: dict[str, DataFrame]) -> DataFrame:
    """Q9 shape: profit by supplier nation and year; part and supplier
    dims broadcast, profit arithmetic per-row then exact-decimal agg."""
    profit = (
        F.col("l_extendedprice") * (1 - F.col("l_discount"))
        - F.col("p_retailprice") * F.col("l_quantity") * 0.1
    )
    return (
        t["lineitem"]
        .join(broadcast(t["part"].select("p_partkey", "p_retailprice", "p_type")),
              F.col("l_partkey") == F.col("p_partkey"))
        .where(F.col("p_type") == "ECONOMY")
        .join(broadcast(t["supplier"].select("s_suppkey", "s_nationkey")),
              F.col("l_suppkey") == F.col("s_suppkey"))
        .join(broadcast(t["nation"].select("n_nationkey", "n_name")),
              F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy("n_name", F.year("l_shipdate").cast("bigint").alias("o_year"))
        .agg(_dsum(profit).alias("profit"))
        .orderBy("n_name", "o_year")
    )


def returned_items(t: dict[str, DataFrame], limit: int = 20) -> DataFrame:
    """Q10 shape: customers ranked by revenue lost to returns in a
    window.  Customer dim broadcast into the aggregated fact."""
    o = t["orders"].where(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-07-01").cast("timestamp"))
    )
    l = t["lineitem"].where(F.col("l_returnflag") == "R")
    return (
        l.join(o.select("o_orderkey", "o_custkey"),
               F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("o_custkey")
        .agg(_dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("lost_revenue"))
        .join(broadcast(t["customer"].select("c_custkey", "c_name")),
              F.col("o_custkey") == F.col("c_custkey"))
        .select("c_custkey", "c_name", "lost_revenue")
        .orderBy(F.col("lost_revenue").desc(), F.col("c_custkey"))
        .limit(limit)
    )


def customer_running_totals(t: dict[str, DataFrame]) -> DataFrame:
    """Cumulative spend per customer over order history — window
    function coverage.  Exact-decimal prefix sums: the running value
    is bit-deterministic at any parallelism."""
    from pyspark.sql import Window as W

    w = (
        W.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(W.unboundedPreceding, 0)
    )
    return t["orders"].select(
        "o_custkey",
        "o_orderkey",
        F.sum(F.col("o_totalprice").cast(DEC)).over(w).cast("double").alias("running_total"),
    )


def events_pivot(t: dict[str, DataFrame]) -> DataFrame:
    """Per-user event-type histogram via pivot (conditional agg under
    the hood — one shuffle on user_id)."""
    types = ["click", "error", "purchase", "signup", "view"]
    return (
        t["events"]
        .groupBy("user_id")
        .pivot("event_type", types)
        .agg(F.count(F.lit(1)))
        .na.fill(0, types)
        .orderBy("user_id")
    )


def sales_rollup(t: dict[str, DataFrame]) -> DataFrame:
    """ROLLUP(region, nation) revenue — multi-level aggregate coverage
    with a single pass (grouping sets share the scan)."""
    dims = (
        t["region"]
        .join(t["nation"], F.col("n_regionkey") == F.col("r_regionkey"))
        .join(t["customer"], F.col("c_nationkey") == F.col("n_nationkey"))
        .select("r_name", "n_name", "c_custkey")
    )
    return (
        t["orders"]
        .join(broadcast(dims), F.col("o_custkey") == F.col("c_custkey"))
        .rollup("r_name", "n_name")
        .agg(_dsum(F.col("o_totalprice")).alias("revenue"),
             F.count(F.lit(1)).alias("n_orders"))
        .orderBy("r_name", "n_name")
    )


# ------------------------------ events --------------------------------


def events_tumbling_window(t: dict[str, DataFrame]) -> DataFrame:
    """Tumbling 1-hour windows per event type: the batch twin of the
    Structured Streaming windowed aggregation (streaming/serve.py)."""
    e = t["events"]
    return (
        e.groupBy(
            F.date_trunc("hour", F.col("ts")).alias("window_start"),
            F.col("event_type"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            _dsum(F.col("value")).alias("sum_value"),
        )
        .orderBy("window_start", "event_type")
    )


def events_json_props(t: dict[str, DataFrame]) -> DataFrame:
    """Semi-structured column handling: extract a typed field from the
    JSON props payload and aggregate on it (get_json_object stays in
    codegen — no UDF for JSON at scale)."""
    e = t["events"]
    k = F.get_json_object(F.col("props"), "$.k").cast("bigint")
    return (
        e.withColumn("k", k)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("k").alias("sum_k"),
            F.min("k").alias("min_k"),
            F.max("k").alias("max_k"),
        )
        .orderBy("event_type")
    )


def events_sliding_window(t: dict[str, DataFrame]) -> DataFrame:
    """Sliding 2h windows every 1h per event type (each event counts
    in 2 windows) — F.window with slide; the batch twin of a sliding
    streaming aggregation."""
    e = t["events"]
    return (
        e.groupBy(F.window("ts", "2 hours", "1 hour").alias("win"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col("win.start").alias("window_start"), "event_type", "n_events"
        )
        .orderBy("window_start", "event_type")
    )


def events_sessionize(t: dict[str, DataFrame], gap_minutes: int = 30) -> DataFrame:
    """Gap-based sessionization per user: a new session starts when
    the inter-event gap exceeds ``gap_minutes``.

    lag + running sum over (user_id, ts) — one shuffle on user_id;
    state never leaves the JVM.  The streaming twin is
    applyInPandasWithState in streaming/serve.py.
    """
    from pyspark.sql import Window as W

    e = t["events"]
    w = W.partitionBy("user_id").orderBy("ts")
    gap = F.col("ts").cast("long") - F.lag(F.col("ts").cast("long")).over(w)
    new_session = F.when(
        gap.isNull() | (gap > gap_minutes * 60), F.lit(1)
    ).otherwise(F.lit(0))
    sess = (
        e.withColumn("_new", new_session)
        .withColumn(
            "session_seq",
            F.sum("_new").over(w.rowsBetween(W.unboundedPreceding, 0)).cast("bigint"),
        )
    )
    return (
        sess.groupBy("user_id", "session_seq")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.min(F.col("ts").cast("long")).alias("session_start_sec"),
            (F.max(F.col("ts").cast("long")) - F.min(F.col("ts").cast("long"))).alias(
                "duration_sec"
            ),
        )
        .orderBy("user_id", "session_seq")
    )


def events_topk_users(t: dict[str, DataFrame], k: int = 20) -> DataFrame:
    """Top-k users by total event value (heavy-hitter shape)."""
    e = t["events"]
    return (
        e.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            _dsum(F.col("value")).alias("total_value"),
        )
        .orderBy(F.col("total_value").desc(), F.col("user_id"))
        .limit(k)
    )


def promo_revenue(t: dict[str, DataFrame]) -> DataFrame:
    """TPC-H Q14 shape: promo revenue share over a month.

    part is broadcast; the date filter pushes to the lineitem scan.
    Both numerator and denominator are exact-decimal sums, so the
    ratio is bit-deterministic at any parallelism.
    """
    l = t["lineitem"].where(
        (F.col("l_shipdate") >= F.lit("1996-03-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp"))
    )
    p = t["part"].select("p_partkey", "p_type")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    promo = F.when(F.col("p_type") == "PROMO", rev).otherwise(F.lit(0.0))
    return (
        l.join(broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
        .agg(
            F.round(100.0 * _dsum(promo) / _dsum(rev), 6).alias("promo_pct"),
            _dsum(promo).alias("promo_revenue"),
            _dsum(rev).alias("total_revenue"),
        )
    )


def small_quantity_revenue(t: dict[str, DataFrame]) -> DataFrame:
    """TPC-H Q17 shape: revenue lost to small orders of one brand.

    The correlated per-part average becomes a groupBy + broadcast
    join — the standard decorrelation; no per-row subquery exists at
    any scale.
    """
    p = t["part"].where(F.col("p_brand") == "Brand#3").select("p_partkey")
    l = t["lineitem"].select("l_partkey", "l_quantity", "l_extendedprice")
    branded = l.join(broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
    avg_qty = branded.groupBy("l_partkey").agg(
        (F.sum(F.col("l_quantity").cast(DEC)).cast("double") / F.count(F.lit(1)))
        .alias("_avg_qty")
    )
    return (
        branded.join(broadcast(avg_qty), "l_partkey")
        .where(F.col("l_quantity") < 0.2 * F.col("_avg_qty"))
        .agg(F.round(_dsum(F.col("l_extendedprice")) / 7.0, 6).alias("avg_yearly"))
    )


def large_orders(t: dict[str, DataFrame], min_qty: float = 150.0, limit: int = 20) -> DataFrame:
    """TPC-H Q18 shape: large-volume orders (group-having on the fact,
    then enrich).  The having filter collapses lineitem before the
    orders/customer joins — the join input is already tiny."""
    l = t["lineitem"]
    big = (
        l.groupBy("l_orderkey")
        .agg(_dsum(F.col("l_quantity")).alias("total_qty"))
        .where(F.col("total_qty") > min_qty)
    )
    o = t["orders"].select("o_orderkey", "o_custkey", "o_orderdate", "o_totalprice")
    c = t["customer"].select("c_custkey", "c_name")
    return (
        big.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(broadcast(c), F.col("o_custkey") == F.col("c_custkey"))
        .select("c_name", "c_custkey", "o_orderkey", "o_orderdate", "o_totalprice", "total_qty")
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
        .limit(limit)
    )


def waiting_customers(t: dict[str, DataFrame]) -> DataFrame:
    """TPC-H Q22 shape: well-funded customers with no recent orders.

    The global average rides along as a broadcast 1-row relation;
    customers-without-recent-orders is a left_anti join on the
    custkey (no correlated NOT EXISTS at any scale), with the date
    filter pushed into the anti side's scan.
    """
    c = t["customer"].select("c_custkey", "c_nationkey", "c_acctbal")
    avg_bal = (
        c.where(F.col("c_acctbal") > 0.0)
        .agg(
            (F.sum(F.col("c_acctbal").cast(DEC)).cast("double") / F.count(F.lit(1)))
            .alias("_avg_bal")
        )
    )
    o = t["orders"].where(
        F.col("o_orderdate") >= F.lit("2000-01-01").cast("timestamp")
    ).select("o_custkey")
    return (
        c.crossJoin(broadcast(avg_bal))
        .where(F.col("c_acctbal") > F.col("_avg_bal"))
        .join(o, F.col("c_custkey") == F.col("o_custkey"), "left_anti")
        .groupBy("c_nationkey")
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            _dsum(F.col("c_acctbal")).alias("totacctbal"),
        )
    )


def customer_distribution(t: dict[str, DataFrame]) -> DataFrame:
    """TPC-H Q13 shape: distribution of order counts per customer
    (left join so zero-order customers count), then a second tiny
    aggregation over the counts."""
    c = t["customer"].select("c_custkey")
    o = t["orders"].select("o_custkey", "o_orderkey")
    per_cust = (
        c.join(o, F.col("c_custkey") == F.col("o_custkey"), "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(F.count(F.lit(1)).alias("custdist"))


def top_supplier(t: dict[str, DataFrame]) -> DataFrame:
    """TPC-H Q15 shape: supplier(s) with maximum quarterly revenue.
    The max is a broadcast 1-row relation joined back — the view +
    scalar-subquery formulation, decorrelated."""
    l = t["lineitem"].where(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp"))
    )
    rev = (
        l.groupBy("l_suppkey")
        .agg(_dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("total_revenue"))
    )
    mx = rev.agg(F.max("total_revenue").alias("_max_rev"))
    s = t["supplier"].select("s_suppkey", "s_name")
    return (
        rev.crossJoin(broadcast(mx))
        .where(F.col("total_revenue") == F.col("_max_rev"))
        .join(broadcast(s), F.col("l_suppkey") == F.col("s_suppkey"))
        .select(
            F.col("s_suppkey").cast("bigint").alias("s_suppkey"),
            "s_name",
            F.round("total_revenue", 6).alias("total_revenue"),
        )
    )


def bracket_revenue(t: dict[str, DataFrame]) -> DataFrame:
    """TPC-H Q19 shape: disjunction of brand/size/quantity brackets.
    The OR-of-ANDs predicate stays declarative so Catalyst can push
    the common part-side conjuncts into the broadcast build side."""
    p = t["part"].select("p_partkey", "p_brand", "p_size")
    l = t["lineitem"].select("l_partkey", "l_quantity", "l_extendedprice", "l_discount")
    j = l.join(broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
    cond = (
        (
            (F.col("p_brand") == "Brand#1")
            & F.col("p_size").between(1, 15)
            & F.col("l_quantity").between(1, 20)
        )
        | (
            (F.col("p_brand") == "Brand#2")
            & F.col("p_size").between(10, 30)
            & F.col("l_quantity").between(10, 30)
        )
    )
    return j.where(cond).agg(
        _dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"),
        F.count(F.lit(1)).alias("n_lines"),
    )


def supplier_part_types(t: dict[str, DataFrame]) -> DataFrame:
    """TPC-H Q16 shape (reshaped to this schema): how many distinct
    suppliers ship each (brand, type) for selected sizes.  distinct
    count shuffles once on the group key."""
    p = t["part"].where(F.col("p_size").isin(5, 10, 15, 20)).select(
        "p_partkey", "p_brand", "p_type"
    )
    l = t["lineitem"].select("l_partkey", "l_suppkey")
    return (
        l.join(broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("p_brand", "p_type")
        .agg(F.count_distinct("l_suppkey").alias("supplier_cnt"))
    )


def best_supplier_per_nation(t: dict[str, DataFrame]) -> DataFrame:
    """Per-nation revenue argmax: window rank over the supplier
    revenue aggregate, partitioned by nation — no global sort, one
    shuffle for the agg and one hash-partitioned window."""
    from pyspark.sql import Window

    l = t["lineitem"].select("l_suppkey", "l_extendedprice", "l_discount")
    s = t["supplier"].select("s_suppkey", "s_name", "s_nationkey")
    n = t["nation"].select("n_nationkey", "n_name")
    rev = l.groupBy("l_suppkey").agg(
        _dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue")
    )
    w = Window.partitionBy("n_name").orderBy(F.col("revenue").desc(), F.col("s_suppkey"))
    return (
        rev.join(broadcast(s), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .withColumn("_r", F.row_number().over(w))
        .where(F.col("_r") == 1)
        .select(
            "n_name",
            F.col("s_suppkey").cast("bigint").alias("s_suppkey"),
            "s_name",
            F.round("revenue", 6).alias("revenue"),
        )
    )


def min_cost_supplier(t: dict[str, DataFrame], region: str = "EUROPE") -> DataFrame:
    """TPC-H Q2 shape reshaped to this schema: cheapest supplier per part
    within a region.

    Without a partsupp table, the observed unit price
    (l_extendedprice / l_quantity, min over a supplier's shipments of
    the part) stands in for ps_supplycost.  The correlated
    ``cost = (SELECT min(cost) ...)`` subquery is decorrelated into a
    per-part min aggregate joined back — no per-row subquery at any
    scale.  Supplier/nation/region dims are broadcast; lineitem
    shuffles once on (partkey, suppkey).

    Reference parity: the reference has no SQL engine; this answers the
    same "pick the best provider per item" need its users would script.
    """
    n = t["nation"].select("n_nationkey", "n_name", "n_regionkey")
    r = t["region"].where(F.col("r_name") == region).select("r_regionkey")
    s = (
        t["supplier"]
        .join(broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(broadcast(r), F.col("n_regionkey") == F.col("r_regionkey"))
        .select("s_suppkey", "s_name", "n_name")
    )
    p = t["part"].where((F.col("p_size") == 15) & (F.col("p_type") == "STANDARD")).select(
        "p_partkey", "p_name"
    )
    l = t["lineitem"].select("l_partkey", "l_suppkey", "l_extendedprice", "l_quantity")
    from pyspark.sql import Window

    # Per (part, regional supplier): min observed unit price.  The
    # division is per-row identical in both engines; min of identical
    # doubles is order-independent, so the equality filter below is
    # safe.  The per-part best comes from a window partitioned by
    # l_partkey — a SUBSET of the groupBy keys, so it reuses the agg's
    # exchange (no second shuffle, no recomputation of the cost
    # subtree that a join-back formulation would cost).
    cost = (
        l.join(broadcast(p.select("p_partkey")), F.col("l_partkey") == F.col("p_partkey"))
        .join(broadcast(s.select("s_suppkey")), F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy("l_partkey", "l_suppkey")
        .agg(F.min(F.col("l_extendedprice") / F.col("l_quantity")).alias("unit_cost"))
    )
    best = F.min("unit_cost").over(Window.partitionBy("l_partkey"))
    return (
        cost.withColumn("_best", best)
        .where(F.col("unit_cost") == F.col("_best"))
        .join(broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
        .join(broadcast(s), F.col("l_suppkey") == F.col("s_suppkey"))
        .select(
            F.col("p_partkey").cast("bigint").alias("p_partkey"),
            "p_name",
            F.col("s_suppkey").cast("bigint").alias("s_suppkey"),
            "s_name",
            "n_name",
            F.round("unit_cost", 6).alias("unit_cost"),
        )
    )


def important_parts(t: dict[str, DataFrame], nation: str = "NATION_9",
                    mean_mult: float = 2.0) -> DataFrame:
    """TPC-H Q11 shape: parts representing an outsized share of one
    nation's shipped value.

    ps_supplycost*ps_availqty becomes shipped value
    (l_extendedprice summed) from the nation's suppliers.  The
    HAVING-against-a-scalar-subquery is decorrelated: the national
    mean rides along as a broadcast 1-row relation.  The threshold is
    a multiple of the MEAN part value (Q11's fixed fraction-of-total
    selects ~nothing once the part count grows 10×: selectivity must
    be scale-invariant for the query to mean anything at 100 TB).
    Both comparison sides are exact-decimal sums, deterministic at
    any parallelism.
    """
    n = t["nation"].where(F.col("n_name") == nation).select("n_nationkey")
    s = (
        t["supplier"]
        .join(broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_suppkey")
    )
    l = t["lineitem"].select("l_partkey", "l_suppkey", "l_extendedprice")
    national = l.join(broadcast(s), F.col("l_suppkey") == F.col("s_suppkey"))
    per_part = national.groupBy("l_partkey").agg(
        _dsum(F.col("l_extendedprice")).alias("part_value")
    )
    mean = per_part.agg(
        (F.sum(F.col("part_value").cast(DEC)).cast("double") / F.count(F.lit(1)))
        .alias("_mean")
    )
    return (
        per_part.crossJoin(broadcast(mean))
        .where(F.col("part_value") > mean_mult * F.col("_mean"))
        .select(
            F.col("l_partkey").cast("bigint").alias("p_partkey"),
            F.round("part_value", 6).alias("part_value"),
        )
    )


def priority_by_linestatus(t: dict[str, DataFrame]) -> DataFrame:
    """TPC-H Q12 shape (no shipmode column → linestatus): how many
    high- vs low-priority orders shipped in 1996, per linestatus.

    One fact⋈fact join on orderkey, conditional counts map-side; the
    ship-date filter pushes to the lineitem scan.
    """
    l = t["lineitem"].where(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
    ).select("l_orderkey", "l_linestatus")
    o = t["orders"].select("o_orderkey", "o_orderpriority")
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        l.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("l_linestatus")
        .agg(
            F.count(F.when(high, F.lit(1))).alias("high_line_count"),
            F.count(F.when(~high, F.lit(1))).alias("low_line_count"),
        )
    )


def heavy_part_suppliers(t: dict[str, DataFrame], name_prefix: str = "red",
                         min_qty: float = 400.0) -> DataFrame:
    """TPC-H Q20 shape: suppliers who moved a large volume of a
    part-name family in 1996 (stand-in for excess availqty).

    The nested IN-subqueries are a semi-join chain: part names →
    partkeys (broadcast), shipped-qty-per-supplier aggregate →
    threshold filter → broadcast semi onto supplier.  No correlated
    subquery survives.
    """
    p = t["part"].where(F.col("p_name").startswith(name_prefix)).select("p_partkey")
    l = t["lineitem"].where(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
    ).select("l_partkey", "l_suppkey", "l_quantity")
    heavy = (
        l.join(broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("l_suppkey")
        .agg(_dsum(F.col("l_quantity")).alias("total_qty"))
        .where(F.col("total_qty") > min_qty)
    )
    s = t["supplier"].select("s_suppkey", "s_name", "s_nationkey")
    n = t["nation"].select("n_nationkey", "n_name")
    return (
        s.join(broadcast(heavy), F.col("s_suppkey") == F.col("l_suppkey"))
        .join(broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .select(
            F.col("s_suppkey").cast("bigint").alias("s_suppkey"),
            "s_name",
            "n_name",
            F.round("total_qty", 6).alias("total_qty"),
        )
    )


def sole_blame_suppliers(t: dict[str, DataFrame]) -> DataFrame:
    """TPC-H Q21 shape (no receipt/commit dates → returnflag): on
    finished multi-supplier orders, suppliers whose lines were
    returned while *no other* supplier's were.

    The EXISTS / NOT EXISTS pair decorrelates WITHOUT self-joins:
    collapse to distinct (orderkey, supplier, had_return) rows — one
    shuffle on orderkey — then per-order supplier/return counts come
    from a window partitioned by orderkey, a SUBSET of the groupBy
    keys, so the window reuses the aggregation's exchange.  "Some
    other supplier shipped" ⇔ n_suppliers > 1; "no other supplier
    returned" ⇔ this supplier returned and n_returning == 1.  Total:
    one fact shuffle + one tiny groupBy, versus the textbook
    semi+anti formulation's four shuffles of the pair set.
    """
    o = t["orders"].where(F.col("o_orderstatus") == "F").select("o_orderkey")
    l = t["lineitem"].select("l_orderkey", "l_suppkey", "l_returnflag")
    per_pair = (
        l.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("l_orderkey", "l_suppkey")
        .agg(F.max(F.col("l_returnflag") == "R").alias("_ret"))
    )
    from pyspark.sql import Window

    w = Window.partitionBy("l_orderkey")
    blamed = (
        per_pair.withColumn("_n_supp", F.count(F.lit(1)).over(w))
        .withColumn("_n_ret", F.sum(F.col("_ret").cast("int")).over(w))
        .where(F.col("_ret") & (F.col("_n_supp") > 1) & (F.col("_n_ret") == 1))
    )
    s = t["supplier"].select("s_suppkey", "s_name")
    return (
        blamed.groupBy("l_suppkey")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .join(broadcast(s), F.col("l_suppkey") == F.col("s_suppkey"))
        .select(
            F.col("s_suppkey").cast("bigint").alias("s_suppkey"),
            "s_name",
            "numwait",
        )
    )


def events_similar_users(
    t: dict[str, DataFrame], threshold: float = 0.2,
    num_hashes: int = 9, bands: int = 9, shingle_k: int = 20,
    max_trail: int | None = None,
) -> DataFrame:
    """Behavior-similarity pairs: users whose event-type *trails*
    (type sequence in time order) are near-duplicates — the
    trajectory-similarity-search shape (cf. REPOSE, ICDE 2021:
    distributed top-k trajectory similarity via locality-grouped
    reference points) re-expressed on the text-dedup machinery:
    trail string → MinHash bands (the locality grouping) → candidate
    pairs → shingle-Jaccard verify.

    One groupBy builds trails (deterministic (ts, event_id) order);
    the pair space is banded, never users² — the same scale bound as
    document dedup, because it IS the document pipeline applied to
    behavioral sequences.

    ``max_trail`` bounds the per-user trail at scale: a heavy user
    (bot, shared account) otherwise collects millions of events into
    one array/string row.  The cap keeps each user's FIRST
    ``max_trail`` events (row_number over the same (ts, event_id)
    order — one extra window on the user partitioning, no new
    shuffle), which preserves the prefix-similarity semantics; unset
    (the sf-tier default) it is exact.
    """
    e = t["events"]
    if max_trail is not None:
        from pyspark.sql import Window as W

        rn = F.row_number().over(
            W.partitionBy("user_id").orderBy("ts", "event_id")
        )
        e = e.withColumn("_rn", rn).where(F.col("_rn") <= max_trail).drop("_rn")
    trail = F.array_join(
        F.transform(
            F.array_sort(
                F.collect_list(F.struct("ts", "event_id", "event_type"))
            ),
            lambda s: s["event_type"],
        ),
        " ",
    )
    trails = e.groupBy("user_id").agg(trail.alias("trail"))
    from fuel_spark.ops import dedup

    return (
        dedup.ngram_jaccard_pairs(
            trails, "user_id", "trail", threshold=threshold,
            num_hashes=num_hashes, bands=bands, shingle_k=shingle_k,
        )
        .select("id_a", "id_b", "jaccard")
    )


def events_funnel(
    t: dict[str, DataFrame],
    steps: tuple[str, str, str] = ("view", "click", "purchase"),
) -> DataFrame:
    """Ordered conversion funnel: users whose first ``steps[0]`` is
    followed (strictly later) by a ``steps[1]``, then a ``steps[2]``.

    Per-step per-user minima are one shuffle each on user_id, and the
    chaining joins are also keyed on user_id — so every stage shares
    one hash partitioning and the step tables are NEVER broadcast:
    user cardinality is unbounded at the 100 TB tier (every active
    user), so a forced broadcast of a fact-derived aggregate would be
    an unconditional executor OOM.  AQE still downgrades to broadcast
    at runtime when a stage table is genuinely small.  Emits one row
    per funnel stage with a conversion rate off the stage-1 population.
    """
    e = t["events"]
    s1 = (
        e.where(F.col("event_type") == steps[0])
        .groupBy("user_id")
        .agg(F.min("ts").alias("t1"))
    )
    s2 = (
        e.where(F.col("event_type") == steps[1])
        .join(s1, "user_id")
        .where(F.col("ts") > F.col("t1"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t2"))
    )
    s3 = (
        e.where(F.col("event_type") == steps[2])
        .join(s2, "user_id")
        .where(F.col("ts") > F.col("t2"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t3"))
    )
    from pyspark.sql import Window as W

    stages = [(1, steps[0], s1), (2, steps[1], s2), (3, steps[2], s3)]
    rows = None
    for i, name, s in stages:
        c = s.agg(F.count(F.lit(1)).alias("n_users")).select(
            F.lit(i).alias("stage"),
            F.lit(name).alias("step"),
            "n_users",
        )
        rows = c if rows is None else rows.unionByName(c)
    # base population = stage 1's count, read off the 3-row union with
    # a window — no separate driver-side count pass
    base = F.first("n_users").over(W.orderBy("stage"))
    return rows.withColumn(
        "conversion", F.round(F.col("n_users").cast("double") / base, 6)
    )


def events_cohort_retention(t: dict[str, DataFrame]) -> DataFrame:
    """Cohort retention triangle: users grouped by first-seen day,
    counted as retained in each later day-offset they were active.

    Two user-keyed shuffles (first-seen min, then distinct activity) —
    both map-side combinable; the output is |cohorts| x |offsets|,
    independent of event volume.  first_seen is a per-user aggregate of
    the fact table (unbounded cardinality at scale) so it joins on the
    shared user_id partitioning, never broadcast — AQE may still choose
    broadcast at runtime when it is measured small.
    """
    e = t["events"]
    first_seen = e.groupBy("user_id").agg(
        F.date_trunc("day", F.min("ts")).alias("cohort_day")
    )
    active = (
        e.select("user_id", F.date_trunc("day", F.col("ts")).alias("day"))
        .distinct()
        .join(first_seen, "user_id")
        .withColumn("day_offset", F.datediff("day", "cohort_day").cast("bigint"))
    )
    return (
        active.groupBy(F.to_date("cohort_day").alias("cohort_day"), "day_offset")
        .agg(F.count(F.lit(1)).alias("n_active_users"))
        .orderBy("cohort_day", "day_offset")
    )


def events_value_quantiles_by_type(
    t: dict[str, DataFrame], probs: tuple = (0.25, 0.5, 0.75, 0.9)
) -> DataFrame:
    """Exact per-group quantiles (percentile with linear interpolation,
    identical to SQL quantile_cont): one map-side-combinable shuffle on
    event_type; output is |groups| x |probs| rows.  The approx path for
    100 TB is approx_percentile (tests/test_sketches.py shows the
    accuracy band) — this is the exact tier.
    """
    e = t["events"]
    plist = ", ".join(str(p) for p in probs)
    qs = e.groupBy("event_type").agg(
        F.expr(f"percentile(value, array({plist}))").alias("_q")
    )
    prob = F.element_at(F.array(*[F.lit(p) for p in probs]), F.col("pos") + 1)
    return (
        qs.select("event_type", F.posexplode("_q").alias("pos", "_v"))
        .select(
            "event_type",
            prob.alias("prob"),
            F.round(F.col("_v"), 6).alias("quantile"),
        )
        .orderBy("event_type", "prob")
    )


def customer_rolling_revenue(t: dict[str, DataFrame], days: int = 7) -> DataFrame:
    """Rolling N-day revenue per customer — a RANGE-frame window over
    the day index, so the frame is defined by VALUES (calendar days),
    not row counts: same-day orders are peers, gaps shrink the frame.
    One shuffle on o_custkey; exact-decimal accumulation keeps the
    prefix sums bit-deterministic at any parallelism.
    """
    from pyspark.sql import Window as W

    o = t["orders"]
    day_idx = F.datediff(
        F.to_date("o_orderdate"), F.lit("1970-01-01").cast("date")
    )
    w = (
        W.partitionBy("o_custkey")
        .orderBy(day_idx)
        .rangeBetween(-(days - 1), 0)
    )
    rolling = F.sum(F.col("o_totalprice").cast("decimal(27,6)")).over(w)
    return o.select(
        "o_custkey",
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("order_day"),
        "o_orderkey",
        F.round(rolling.cast("double"), 6).alias("rolling_revenue"),
    )


def events_user_rfm(t: dict[str, DataFrame]) -> DataFrame:
    """Per-user RFM features (recency / frequency / monetary) — the
    classic activity feature block for downstream models.  One
    map-side-combinable shuffle on user_id; the corpus max timestamp
    rides along as a broadcast 1-row relation (no driver pass).
    Mean inter-event gap falls out of the telescoping identity
    (last - first) / (n - 1) — no window needed.
    """
    e = t["events"]
    corpus_max = e.agg(F.max("ts").alias("_max_ts"))
    per_user = e.groupBy("user_id").agg(
        F.max("ts").alias("_last"),
        F.min("ts").alias("_first"),
        F.count(F.lit(1)).alias("frequency"),
        _dsum(F.col("value")).alias("monetary"),
    )
    gap = (
        F.unix_timestamp("_last") - F.unix_timestamp("_first")
    ).cast("double") / F.greatest(F.col("frequency") - 1, F.lit(1))
    return (
        per_user.crossJoin(broadcast(corpus_max))
        .select(
            "user_id",
            F.datediff(
                F.to_date("_max_ts"), F.to_date("_last")
            ).cast("bigint").alias("recency_days"),
            "frequency",
            "monetary",
            F.round(gap, 6).alias("mean_gap_sec"),
        )
        .orderBy("user_id")
    )


def events_daily_anomalies(
    t: dict[str, DataFrame], z_threshold: float = 3.0
) -> DataFrame:
    """Volume-anomaly detection: per (event_type, day) revenue z-score
    against that type's own daily history; |z| over the threshold
    flags the day.

    Two map-side-combinable aggs (daily rollup, then per-type moments
    from exact-decimal Σx/Σx² — NOT stddev_pop, whose float
    accumulation order differs across engines and partitionings) and
    one broadcast join of the tiny per-type moment table back onto the
    daily rollup.  Deterministic at any parallelism, so the z-scores
    hash-match the oracle bit-for-bit.
    """
    e = t["events"]
    # day is a yyyy-MM-dd STRING, not a truncated timestamp or date:
    # temporal round-trips pick up engine-dependent pandas precision
    # (ns vs us, date vs midnight-datetime) that would skew the
    # driver's schema/hash compare; a string is unambiguous.
    daily = (
        e.groupBy(
            F.col("event_type"),
            F.date_format(F.col("ts"), "yyyy-MM-dd").alias("day"),
        )
        .agg(_dsum(F.col("value")).alias("day_value"))
    )
    moments = daily.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("_n"),
        F.sum(F.col("day_value").cast(DEC)).cast("double").alias("_s1"),
        F.sum((F.col("day_value") * F.col("day_value")).cast(DEC))
        .cast("double")
        .alias("_s2"),
    )
    mean = F.col("_s1") / F.col("_n")
    var = F.col("_s2") / F.col("_n") - mean * mean
    z = (F.col("day_value") - mean) / F.sqrt(F.greatest(var, F.lit(1e-12)))
    return (
        daily.join(broadcast(moments), "event_type")
        .withColumn("z", F.round(z, 6))
        .withColumn("is_anomaly", F.abs(F.col("z")) > z_threshold)
        .select("event_type", "day", F.round("day_value", 6).alias("day_value"),
                "z", "is_anomaly")
    )


def events_range_join(
    t: dict[str, DataFrame],
    lookback_seconds: int = 3600,
    user_mod: int = 10,
) -> DataFrame:
    """Per-purchase lookback window vs the whole click stream — the
    non-equi point-in-interval shape, executed through the bucketed
    :func:`fuel_spark.ops.core.range_join` (no per-user equi key on
    purpose: this exercises the pure range path a cartesian plan would
    otherwise eat).

    Intervals: each purchase by the sampled user cohort opens
    ``[ts - lookback, ts]``.  Points: every click event, any user.
    One grid shuffle of the click fact (no expansion) + a ~2x
    replicated interval side; the left mode keeps zero-click windows.
    Output per interval: click count + exact-decimal click value sum.
    """
    from fuel_spark.ops.core import range_join

    e = t["events"]
    iv = (
        e.where(
            (F.col("event_type") == "purchase")
            & (F.col("user_id") % user_mod == 0)
        )
        .select(
            F.col("event_id").alias("interval_id"),
            (F.col("ts") - F.expr(f"INTERVAL {lookback_seconds} SECONDS")).alias(
                "win_start"
            ),
            F.col("ts").alias("win_end"),
        )
    )
    p = e.where(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"),
        F.col("ts").alias("click_ts"),
        F.col("value").alias("click_value"),
    )
    pairs = range_join(
        p,
        iv,
        "click_ts",
        "win_start",
        "win_end",
        bucket_width=lookback_seconds,
        how="left",
        interval_id=["interval_id"],
    )
    return pairs.groupBy("interval_id").agg(
        F.count("click_id").alias("n_clicks"),
        F.coalesce(_dsum(F.col("click_value")), F.lit(0.0)).alias("click_value_sum"),
    )


def events_attribution(
    t: dict[str, DataFrame], window_seconds: int = 1800
) -> DataFrame:
    """Last-touch attribution: each purchase credits the most recent
    prior click/view by the same user within ``window_seconds``;
    purchases with no qualifying touch fall into the 'none' channel.

    Composition of the first-class as-of machinery
    (:func:`fuel_spark.ops.core.asof_join` — union + one user-keyed
    window carry-forward, O((n+m)log) with a single shuffle), then a
    tolerance filter and a 3-row channel rollup.  Tie rules inherit
    from asof_join: an equal-timestamp touch wins (inclusive); among
    touch ties the greatest (touch_ts, channel) wins.
    """
    from fuel_spark.ops.core import asof_join

    e = t["events"]
    purchases = e.where(F.col("event_type") == "purchase").select(
        "user_id", "ts", F.col("event_id").alias("purchase_id"), "value"
    )
    touches = e.where(F.col("event_type").isin("click", "view")).select(
        "user_id",
        F.col("ts").alias("touch_ts"),
        F.col("event_type").alias("channel"),
    )
    attributed = asof_join(
        purchases, touches, "user_id", "ts", "touch_ts", ["touch_ts", "channel"]
    )
    in_window = (
        F.col("touch_ts").isNotNull()
        & (
            F.unix_micros(F.col("ts").cast("timestamp"))
            - F.unix_micros(F.col("touch_ts").cast("timestamp"))
            <= window_seconds * 1_000_000
        )
    )
    return (
        attributed.withColumn(
            "channel", F.when(in_window, F.col("channel")).otherwise(F.lit("none"))
        )
        .groupBy("channel")
        .agg(
            F.count(F.lit(1)).alias("n_purchases"),
            _dsum(F.col("value")).alias("purchase_value"),
        )
    )


def events_engagement(
    t: dict[str, DataFrame], week: int = 7, month: int = 28
) -> DataFrame:
    """Per-day engagement: DAU, WAU(7), MAU(28) and DAU/MAU
    stickiness — the standard activity dashboard.

    One distinct pass reduces events to (day, user) pairs; the
    calendar-day grid (bounded by elapsed days, 365 rows/year)
    broadcasts into a range-predicate join, so the fact side expands
    at most ``month`` times and never shuffles wider than the distinct
    pair set.  Distinct counts per grid day use conditional
    count_distinct — one aggregation for all three windows.  Day
    columns emit as yyyy-MM-dd strings (temporal round-trips pick up
    engine-dependent pandas precision; see events_daily_anomalies).
    """
    e = t["events"]
    du = e.select(F.to_date("ts").alias("day"), "user_id").distinct()
    grid = du.select(F.col("day").alias("grid_day")).distinct()
    j = du.join(
        broadcast(grid),
        (F.col("day") <= F.col("grid_day"))
        & (F.col("day") >= F.date_sub(F.col("grid_day"), month - 1)),
    )
    out = j.groupBy("grid_day").agg(
        F.count_distinct(
            F.when(F.col("day") == F.col("grid_day"), F.col("user_id"))
        ).alias("dau"),
        F.count_distinct(
            F.when(
                F.col("day") >= F.date_sub(F.col("grid_day"), week - 1),
                F.col("user_id"),
            )
        ).alias("wau"),
        F.count_distinct("user_id").alias("mau"),
    )
    return out.select(
        F.date_format("grid_day", "yyyy-MM-dd").alias("day"),
        "dau",
        "wau",
        "mau",
        F.round(F.col("dau").cast("double") / F.col("mau"), 6).alias("stickiness"),
    )


def events_attribution_first(
    t: dict[str, DataFrame], window_seconds: int = 1800
) -> DataFrame:
    """First-touch attribution — the range-join composition: each
    purchase opens a lookback interval, touches land in it via the
    bucketed :func:`fuel_spark.ops.core.range_join` with the user as
    an equi key (so buckets scope per user and the grid join stays
    narrow), and the EARLIEST touch in the window takes the credit
    (asof carry-forward finds the latest; first-touch wants a rank
    inside the window, which the pair join gives directly).

    Ties: equal earliest timestamps resolve to the greater channel
    name (mirrors the last-touch rule).  Purchases with no touch in
    window fall to 'none' via the left mode.
    """
    from fuel_spark.ops.core import range_join

    e = t["events"]
    iv = e.where(F.col("event_type") == "purchase").select(
        "user_id",
        F.col("event_id").alias("purchase_id"),
        (F.col("ts") - F.expr(f"INTERVAL {window_seconds} SECONDS")).alias(
            "win_start"
        ),
        F.col("ts").alias("win_end"),
        "value",
    )
    p = e.where(F.col("event_type").isin("click", "view")).select(
        F.col("user_id").alias("t_user"),
        F.col("ts").alias("touch_ts"),
        F.col("event_type").alias("channel"),
    )
    pairs = range_join(
        p.withColumnRenamed("t_user", "user_id"),
        iv,
        "touch_ts",
        "win_start",
        "win_end",
        bucket_width=window_seconds,
        equi_keys=["user_id"],
        how="left",
        interval_id=["purchase_id"],
    )
    from pyspark.sql import Window as W

    w = W.partitionBy("purchase_id").orderBy(
        F.col("touch_ts").asc_nulls_last(), F.col("channel").desc()
    )
    first = (
        pairs.withColumn("_rk", F.row_number().over(w))
        .where(F.col("_rk") == 1)
        .withColumn("channel", F.coalesce("channel", F.lit("none")))
    )
    return first.groupBy("channel").agg(
        F.count(F.lit(1)).alias("n_purchases"),
        _dsum(F.col("value")).alias("purchase_value"),
    )


def events_attribution_linear(
    t: dict[str, DataFrame], window_seconds: int = 1800
) -> DataFrame:
    """Linear multi-touch attribution: every click/view touch inside a
    purchase's lookback window shares the credit equally (1/n of the
    purchase, value/n of its revenue); purchases with no in-window
    touch credit 'none' in full.  The position-free multi-touch model
    that generalizes first/last touch — both pick ONE row out of the
    same in-window pair set this query averages over.

    Same pair plan as :func:`events_attribution_first` (bucketed
    :func:`fuel_spark.ops.core.range_join`, user-scoped grid so the
    join stays narrow), then one purchase-keyed window count to size
    each purchase's touch set and a channel rollup.  Per-row credits
    round to 6 dp before the exact DECIMAL sum, so the aggregate is
    deterministic at any parallelism.
    """
    from pyspark.sql import Window as W

    from fuel_spark.ops.core import range_join

    e = t["events"]
    iv = e.where(F.col("event_type") == "purchase").select(
        "user_id",
        F.col("event_id").alias("purchase_id"),
        (F.col("ts") - F.expr(f"INTERVAL {window_seconds} SECONDS")).alias(
            "win_start"
        ),
        F.col("ts").alias("win_end"),
        "value",
    )
    p = e.where(F.col("event_type").isin("click", "view")).select(
        "user_id",
        F.col("ts").alias("touch_ts"),
        F.col("event_type").alias("channel"),
    )
    pairs = range_join(
        p,
        iv,
        "touch_ts",
        "win_start",
        "win_end",
        bucket_width=window_seconds,
        equi_keys=["user_id"],
        how="left",
        interval_id=["purchase_id"],
    )
    sized = pairs.withColumn(
        "_n", F.count("touch_ts").over(W.partitionBy("purchase_id"))
    )
    credited = sized.select(
        F.coalesce("channel", F.lit("none")).alias("channel"),
        F.when(F.col("_n") > 0, F.round(F.lit(1.0) / F.col("_n"), 6))
        .otherwise(F.lit(1.0))
        .alias("credit"),
        F.when(F.col("_n") > 0, F.round(F.col("value") / F.col("_n"), 6))
        .otherwise(F.col("value"))
        .alias("credit_value"),
    )
    return credited.groupBy("channel").agg(
        _dsum(F.col("credit")).alias("credited_purchases"),
        _dsum(F.col("credit_value")).alias("credited_value"),
    )


def events_attribution_time_decay(
    t: dict[str, DataFrame],
    window_seconds: int = 1800,
    half_life_seconds: int = 600,
) -> DataFrame:
    """Time-decay multi-touch attribution — the fourth of the
    standard models (last / first / linear / time-decay): each
    in-window touch earns weight 0.5^(gap/half_life) and credits are
    weight-normalized per purchase, so recent touches dominate
    smoothly instead of winner-takes-all.

    Same bucketed range_join pair set as the linear model; weights
    are per-row arithmetic rounded at 9 dp, the per-purchase
    normalizer is one purchase-keyed window sum of those rounded
    weights (decimal), and the channel rollup is exact-DECIMAL.
    Purchases with no in-window touch credit 'none' in full.

    Weights are clamped to ≥1e-9 (the 9-dp rounding quantum): with
    user-supplied params where gap/half_life exceeds ~30, every raw
    weight in a purchase can round to 0, making the normalizer 0 and
    silently dropping the purchase from the rollup.  The clamp makes
    the degenerate case degrade to uniform (linear-model) credit
    instead, preserving Σ credited_purchases == purchase count for
    every parameterization.
    """
    from pyspark.sql import Window as W

    from fuel_spark.ops.core import range_join

    e = t["events"]
    iv = e.where(F.col("event_type") == "purchase").select(
        "user_id",
        F.col("event_id").alias("purchase_id"),
        (F.col("ts") - F.expr(f"INTERVAL {window_seconds} SECONDS")).alias(
            "win_start"
        ),
        F.col("ts").alias("win_end"),
        "value",
    )
    p = e.where(F.col("event_type").isin("click", "view")).select(
        "user_id",
        F.col("ts").alias("touch_ts"),
        F.col("event_type").alias("channel"),
    )
    pairs = range_join(
        p, iv, "touch_ts", "win_start", "win_end",
        bucket_width=window_seconds, equi_keys=["user_id"],
        how="left", interval_id=["purchase_id"],
    )
    gap = (
        F.unix_micros(F.col("win_end").cast("timestamp"))
        - F.unix_micros(F.col("touch_ts").cast("timestamp"))
    ) / 1_000_000.0
    w_raw = F.greatest(
        F.round(F.pow(F.lit(0.5), gap / F.lit(float(half_life_seconds))), 9),
        F.lit(1e-9),
    )
    weighted = pairs.withColumn(
        "w", F.when(F.col("touch_ts").isNotNull(), w_raw)
    ).withColumn(
        "_wsum",
        F.sum(F.col("w").cast("decimal(27,9)")).over(
            W.partitionBy("purchase_id")
        ).cast("double"),
    )
    credited = weighted.select(
        F.coalesce("channel", F.lit("none")).alias("channel"),
        F.when(
            F.col("w").isNotNull(),
            F.round(F.col("w") / F.col("_wsum"), 6),
        )
        .otherwise(F.lit(1.0))
        .alias("credit"),
        F.when(
            F.col("w").isNotNull(),
            F.round(F.col("value") * F.col("w") / F.col("_wsum"), 6),
        )
        .otherwise(F.col("value"))
        .alias("credit_value"),
    )
    return credited.groupBy("channel").agg(
        _dsum(F.col("credit")).alias("credited_purchases"),
        _dsum(F.col("credit_value")).alias("credited_value"),
    )


def events_funnel_windowed(
    t: dict[str, DataFrame],
    steps: tuple[str, str, str] = ("view", "click", "purchase"),
    max_gap_seconds: int = 86400,
) -> DataFrame:
    """Time-bounded conversion funnel: like :func:`events_funnel`, but
    each step must follow the previous one within ``max_gap_seconds``
    — the product-analytics contract ("clicked within a day of the
    first view"), which the unbounded funnel overstates.

    Identical plan shape (per-step user-keyed minima, chained joins on
    the shared user_id partitioning, never broadcast — fact-derived
    aggregates are unbounded at scale); the gap bound is one extra
    row-local predicate per stage.
    """
    e = t["events"]
    gap = F.expr(f"INTERVAL {max_gap_seconds} SECONDS")
    s1 = (
        e.where(F.col("event_type") == steps[0])
        .groupBy("user_id")
        .agg(F.min("ts").alias("t1"))
    )
    s2 = (
        e.where(F.col("event_type") == steps[1])
        .join(s1, "user_id")
        .where((F.col("ts") > F.col("t1")) & (F.col("ts") <= F.col("t1") + gap))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t2"))
    )
    s3 = (
        e.where(F.col("event_type") == steps[2])
        .join(s2, "user_id")
        .where((F.col("ts") > F.col("t2")) & (F.col("ts") <= F.col("t2") + gap))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t3"))
    )
    from pyspark.sql import Window as W

    rows = None
    for i, (name, s) in enumerate([(steps[0], s1), (steps[1], s2), (steps[2], s3)], 1):
        c = s.agg(F.count(F.lit(1)).alias("n_users")).select(
            F.lit(i).alias("stage"), F.lit(name).alias("step"), "n_users"
        )
        rows = c if rows is None else rows.unionByName(c)
    base = F.first("n_users").over(W.orderBy("stage"))
    return rows.withColumn(
        "conversion", F.round(F.col("n_users").cast("double") / base, 6)
    )


def events_transitions(t: dict[str, DataFrame]) -> DataFrame:
    """Markov transition counts between consecutive events per user —
    the path-analysis primitive (what follows what, and how often).

    One user-keyed window (lag over the per-user timeline — partitioned,
    never global), then a map-side-combinable count rollup over the
    |types|² transition space.  Ties at identical timestamps order by
    event_id so the sequence is deterministic across engines.  Output
    includes each type's share of outgoing transitions (row-normalized
    probability, round 6).
    """
    from pyspark.sql import Window as W

    e = t["events"]
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    seq = e.select(
        "user_id",
        F.col("event_type").alias("to_type"),
        F.lag("event_type").over(w).alias("from_type"),
    ).where(F.col("from_type").isNotNull())
    counts = seq.groupBy("from_type", "to_type").agg(
        F.count(F.lit(1)).alias("n")
    )
    totals = counts.groupBy("from_type").agg(F.sum("n").alias("_row_total"))
    return (
        counts.join(F.broadcast(totals), "from_type")
        .select(
            "from_type",
            "to_type",
            "n",
            F.round(F.col("n") / F.col("_row_total"), 6).alias("p"),
        )
    )


def events_pareto_share(t: dict[str, DataFrame], buckets: int = 10) -> DataFrame:
    """Pareto concentration of event volume: rank users by activity,
    bucket into deciles, report each decile's share and cumulative
    share of all events (the "do 10% of users produce 80% of traffic"
    readout).

    One user-keyed count shuffle (map-side combinable), then the
    decile comes from the PARALLEL ntile (ops.core.parallel_ntile:
    range-sorted partition-offset positions + closed-form bucket
    arithmetic) — the per-user aggregate is unbounded cardinality at
    100 TB, so a ``Window.orderBy`` ntile would funnel every active
    user through one task.  Output is bit-identical to SQL ntile, so
    the oracle stays plain ntile.  Shares are double divisions of
    exact BIGINT sums; ties order by user_id for stability.
    """
    from pyspark.sql import Window as W

    from fuel_spark.ops.core import parallel_ntile

    e = t["events"]
    per_user = e.groupBy("user_id").agg(F.count(F.lit(1)).alias("n_events"))
    ranked = parallel_ntile(
        per_user, [(-F.col("n_events")).alias("_negn"), F.col("user_id")],
        buckets, out_col="decile",
    )
    by_decile = ranked.groupBy("decile").agg(
        F.count(F.lit(1)).alias("n_users"),
        F.sum("n_events").alias("n_events"),
    )
    total = F.sum("n_events").over(W.partitionBy())
    cum = F.sum("n_events").over(
        W.orderBy("decile").rowsBetween(W.unboundedPreceding, 0)
    )
    return (
        by_decile.select(
            "decile",
            "n_users",
            "n_events",
            F.round(F.col("n_events").cast("double") / total, 6).alias("share"),
            F.round(cum.cast("double") / total, 6).alias("cum_share"),
        )
        .orderBy("decile")
    )


def events_interarrival(t: dict[str, DataFrame]) -> DataFrame:
    """Inter-arrival time statistics per event type: how long between
    consecutive events of the same type for the same user.

    The lag window is partitioned by (user_id, event_type) — never
    global — and the gap is computed on microsecond epochs as exact
    BIGINTs, so the aggregate (decimal mean, interpolated median) is
    bit-deterministic.  One window shuffle + one small agg shuffle.
    """
    from pyspark.sql import Window as W

    e = t["events"]
    us = F.unix_micros(F.col("ts"))
    w = W.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    gaps = (
        e.select(
            "event_type",
            (us - F.lag(us).over(w)).alias("gap_us"),
        )
        .where(F.col("gap_us").isNotNull())
    )
    return (
        gaps.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_gaps"),
            F.round(
                F.sum(F.col("gap_us").cast(DEC)).cast("double")
                / F.count(F.lit(1)) / F.lit(1_000_000.0),
                6,
            ).alias("avg_gap_s"),
            F.round(
                F.expr("percentile(gap_us, 0.5)") / 1e6, 6
            ).alias("p50_gap_s"),
            F.round(F.max("gap_us") / F.lit(1_000_000.0), 6).alias("max_gap_s"),
        )
        .orderBy("event_type")
    )


def events_hourly_profile(t: dict[str, DataFrame]) -> DataFrame:
    """Seasonality profile: event counts by (hour-of-day, type) with
    each type's share of its hour — the load-shape primitive behind
    capacity planning and anomaly baselines.

    Single map-side-combinable rollup over a 24 x |types| output; the
    share window runs over those aggregate rows only.  Shares divide
    exact BIGINTs, bit-deterministic.
    """
    from pyspark.sql import Window as W

    e = t["events"]
    by_hour = e.groupBy(
        F.hour("ts").alias("hour"), "event_type"
    ).agg(F.count(F.lit(1)).alias("n"))
    hour_total = F.sum("n").over(W.partitionBy("hour"))
    return (
        by_hour.select(
            "hour",
            "event_type",
            "n",
            F.round(F.col("n").cast("double") / hour_total, 6).alias(
                "share_of_hour"
            ),
        )
        .orderBy("hour", "event_type")
    )


def events_stickiness(t: dict[str, DataFrame]) -> DataFrame:
    """Per-day DAU/WAU stickiness: distinct daily actives over
    distinct trailing-7-day actives — the engagement-health ratio
    every consumer dashboard tracks (1.0 = everyone weekly is on
    daily; low = drive-by usage).

    Scale shape: one distinct over (day, user) pairs, then each pair
    *fans out* to the ≤7 window-days it contributes to (explode of a
    7-element sequence — linear, shuffle-free) and a second distinct
    sizes each trailing window.  No self-join of the user-day matrix
    against a 7-day range (that plan shuffles the fact twice and
    explodes skewed days); both rollups are map-side-combinable and
    the final day-level join is aggregate-sized.  ``day`` is emitted
    as a yyyy-MM-dd string (temporal round-trip rule, see
    :func:`events_daily_anomalies`).
    """
    e = t["events"]
    ud = e.select(F.to_date("ts").alias("day"), "user_id").distinct()
    dau = ud.groupBy("day").agg(F.count(F.lit(1)).alias("dau"))
    contrib = ud.select(
        F.explode(F.expr("sequence(day, date_add(day, 6))")).alias("wday"),
        "user_id",
    ).distinct()
    wau = contrib.groupBy("wday").agg(F.count(F.lit(1)).alias("wau"))
    return (
        dau.join(wau, dau.day == wau.wday)
        .select(
            F.date_format("day", "yyyy-MM-dd").alias("day"),
            F.col("dau").cast("bigint").alias("dau"),
            F.col("wau").cast("bigint").alias("wau"),
            F.round(F.col("dau") / F.col("wau"), 6).alias("stickiness"),
        )
    )


def events_daily_ewma(
    t: dict[str, DataFrame], half_life_days: int = 7, window_days: int = 14
) -> DataFrame:
    """Exponentially-weighted moving average of daily revenue — the
    smoothing/forecasting primitive behind every trend dashboard
    (recent days dominate, weight halves every ``half_life_days``).

    Engine-portable formulation: instead of the sequential recurrence
    (whose float accumulation order no engine contract pins down),
    the EWMA is a *bounded* weighted window — each day joins its
    trailing ``window_days`` of the DAILY rollup (aggregate-sized:
    365 rows/year, so the self-join is metadata-cheap even at 100 TB
    of raw events), weights round per row, and both numerator and
    denominator exact-DECIMAL-sum before one final divide.
    Deterministic at any parallelism, bit-identical to the oracle.
    """
    e = t["events"]
    decay = 0.5 ** (1.0 / half_life_days)
    daily = (
        e.where(F.col("event_type") == "purchase")
        .groupBy(F.to_date("ts").alias("d"))
        .agg(_dsum(F.col("value")).alias("day_value"))
    )
    a = daily.select(F.col("d").alias("d_to"), F.col("day_value").alias("v_to"))
    b = daily.select(F.col("d").alias("d_from"), F.col("day_value").alias("v_from"))
    pair = a.join(
        b,
        (F.col("d_from") <= F.col("d_to"))
        & (F.col("d_from") > F.date_sub(F.col("d_to"), window_days)),
    )
    weighted = pair.select(
        "d_to",
        "v_to",
        F.round(
            F.pow(F.lit(decay), F.datediff(F.col("d_to"), F.col("d_from"))), 9
        ).alias("w"),
        "v_from",
    )
    DECW = "decimal(27,9)"
    # both operands exact-DECIMAL-sum, then cast to double BEFORE the
    # divide: decimal-division scale derivation is engine-specific,
    # double division of identical doubles is not
    return (
        weighted.groupBy("d_to", "v_to")
        .agg(
            (
                F.sum(F.round(F.col("w") * F.col("v_from"), 6).cast(DECW))
                .cast("double")
                / F.sum(F.col("w").cast(DECW)).cast("double")
            ).alias("_ewma_raw")
        )
        .select(
            F.date_format("d_to", "yyyy-MM-dd").alias("day"),
            F.round(F.col("v_to"), 6).alias("day_value"),
            F.round(F.col("_ewma_raw"), 6).alias("ewma"),
        )
    )


def orders_backlog(t: dict[str, DataFrame]) -> DataFrame:
    """Open-order backlog by month: cumulative orders placed minus
    cumulative orders fully shipped (every lineitem shipped) — the
    fulfilment-health curve operations teams watch.

    One orderkey SMJ to find each order's last ship date, two
    map-side-combinable monthly rollups, then window cumsums over the
    aggregate-sized month table (a global window over ~84 month rows,
    not over facts).  Integer counts end-to-end — deterministic.
    """
    o = t["orders"].select("o_orderkey", F.date_format("o_orderdate", "yyyy-MM").alias("placed_m"))
    l = t["lineitem"].groupBy("l_orderkey").agg(F.max("l_shipdate").alias("_last_ship"))
    shipped = (
        o.join(l, o.o_orderkey == l.l_orderkey, "left")
        .select(F.date_format("_last_ship", "yyyy-MM").alias("shipped_m"))
        .where(F.col("shipped_m").isNotNull())
        .groupBy("shipped_m")
        .agg(F.count(F.lit(1)).alias("shipped"))
    )
    placed = o.groupBy("placed_m").agg(F.count(F.lit(1)).alias("placed"))
    months = (
        placed.select(F.col("placed_m").alias("month"))
        .unionAll(shipped.select(F.col("shipped_m").alias("month")))
        .distinct()
    )
    joined = (
        months.join(placed, months.month == placed.placed_m, "left")
        .join(shipped, months.month == shipped.shipped_m, "left")
        .select(
            "month",
            F.coalesce("placed", F.lit(0)).cast("bigint").alias("placed"),
            F.coalesce("shipped", F.lit(0)).cast("bigint").alias("shipped"),
        )
    )
    from pyspark.sql import Window

    w = Window.orderBy("month").rowsBetween(Window.unboundedPreceding, 0)
    return joined.select(
        "month",
        "placed",
        "shipped",
        (F.sum("placed").over(w) - F.sum("shipped").over(w))
        .cast("bigint")
        .alias("open_backlog"),
    )


def events_chi_square(
    t: dict[str, DataFrame],
) -> DataFrame:
    """Chi-square test of independence between event type and
    day-of-week: Σ (observed − expected)² / expected over the
    contingency table — the statistical-rigor upgrade over eyeballing
    the dow×type heatmap (is the weekday mix actually different per
    type, or noise?).

    One map-side-combinable count rollup builds the contingency
    table; margins derive from window sums over the aggregate-sized
    table (≤ 7·|types| rows — never a window over facts).  Per-cell
    terms round before the exact DECIMAL total, deterministic at any
    parallelism.  Output: one row — the statistic and the table's
    degrees of freedom ((r−1)(c−1)); the caller compares against the
    χ² quantile for their α.
    """
    from pyspark.sql import Window as W

    e = t["events"]
    cells = e.groupBy(
        F.col("event_type"), F.dayofweek("ts").alias("dow")
    ).agg(F.count(F.lit(1)).alias("o"))
    wt = W.partitionBy("event_type")
    wd = W.partitionBy("dow")
    wall = W.partitionBy()
    sized = (
        cells.withColumn("row_n", F.sum("o").over(wt))
        .withColumn("col_n", F.sum("o").over(wd))
        .withColumn("n", F.sum("o").over(wall))
    )
    term = sized.select(
        F.round(
            F.pow(F.col("o") - F.col("row_n") * F.col("col_n") / F.col("n"), 2)
            / (F.col("row_n") * F.col("col_n") / F.col("n")),
            9,
        ).alias("t"),
        "event_type",
        "dow",
    )
    return term.agg(
        F.round(
            F.sum(F.col("t").cast("decimal(27,9)")).cast("double"), 6
        ).alias("chi_square"),
        (
            (F.count_distinct("event_type") - 1)
            * (F.count_distinct("dow") - 1)
        )
        .cast("bigint")
        .alias("dof"),
        F.count(F.lit(1)).cast("bigint").alias("n_cells"),
    )


def events_seasonal_forecast(
    t: dict[str, DataFrame],
) -> DataFrame:
    """Seasonal-naive daily revenue forecast: each day's prediction is
    the mean of its weekday's OTHER days (leave-one-out, so the
    residual is an honest backtest), with the absolute percentage
    error per day — the baseline every fancier forecaster must beat,
    and the one that needs no fitted state.

    Daily rollup (map-side-combinable), then weekday means via one
    aggregate-sized join; leave-one-out derives from (sum − self) /
    (count − 1), so no second pass.  Exact-DECIMAL day values; the
    final prediction/error are per-row arithmetic rounded at 6 dp.
    """
    e = t["events"]
    daily = (
        e.where(F.col("event_type") == "purchase")
        .groupBy(F.to_date("ts").alias("d"))
        .agg(_dsum(F.col("value")).alias("day_value"))
    )
    wk = daily.groupBy(F.dayofweek("d").alias("dow")).agg(
        F.sum(F.col("day_value").cast(DEC)).cast("double").alias("_wsum"),
        F.count(F.lit(1)).alias("_wn"),
    )
    joined = daily.withColumn("dow", F.dayofweek("d")).join(
        F.broadcast(wk), "dow"
    )
    pred = F.when(
        F.col("_wn") > 1,
        (F.col("_wsum") - F.col("day_value")) / (F.col("_wn") - 1),
    )
    return joined.select(
        F.date_format("d", "yyyy-MM-dd").alias("day"),
        F.col("dow").cast("bigint").alias("dow"),
        F.round(F.col("day_value"), 6).alias("day_value"),
        F.round(pred, 6).alias("forecast"),
        F.round(
            F.abs(F.col("day_value") - pred)
            / F.greatest(F.col("day_value"), F.lit(1e-9)),
            6,
        ).alias("ape"),
    )


def events_decompose(
    t: dict[str, DataFrame], trend_window: int = 7
) -> DataFrame:
    """Classical seasonal decomposition of daily revenue (STL-lite):
    trend = centered ``trend_window``-day moving average, seasonal =
    per-weekday mean of the detrended series, residual = the rest —
    the series-health view (is growth trend or weekday mix?) and the
    input anomaly detectors should score on (a residual spike is a
    real anomaly; a seasonal dip is Tuesday).

    Same engine-portable shape as :func:`events_daily_ewma`: every
    stage is a BOUNDED day-grid join or weekday rollup over the
    aggregate-sized daily table, exact-DECIMAL sums, per-row rounds —
    never a windowed float recurrence.  Edge days average whatever
    neighbors exist (documented; a strict STL would drop them).
    """
    e = t["events"]
    half = trend_window // 2
    daily = (
        e.where(F.col("event_type") == "purchase")
        .groupBy(F.to_date("ts").alias("d"))
        .agg(_dsum(F.col("value")).alias("day_value"))
    )
    a = daily.select(F.col("d").alias("d_c"), F.col("day_value").alias("v_c"))
    b = daily.select(F.col("d").alias("d_n"), F.col("day_value").alias("v_n"))
    neigh = a.join(
        b,
        (F.col("d_n") >= F.date_sub(F.col("d_c"), half))
        & (F.col("d_n") <= F.date_add(F.col("d_c"), half)),
    )
    trended = (
        neigh.groupBy("d_c", "v_c")
        .agg(
            (
                F.sum(F.col("v_n").cast(DEC)).cast("double")
                / F.count(F.lit(1))
            ).alias("_trend")
        )
        .select(
            "d_c",
            "v_c",
            F.round("_trend", 6).alias("trend"),
        )
    )
    detr = trended.withColumn(
        "_detr", F.round(F.col("v_c") - F.col("trend"), 6)
    ).withColumn("dow", F.dayofweek("d_c"))
    seas = detr.groupBy("dow").agg(
        F.round(
            F.sum(F.col("_detr").cast(DEC)).cast("double")
            / F.count(F.lit(1)),
            6,
        ).alias("seasonal")
    )
    return (
        detr.join(F.broadcast(seas), "dow")
        .select(
            F.date_format("d_c", "yyyy-MM-dd").alias("day"),
            F.round("v_c", 6).alias("day_value"),
            "trend",
            "seasonal",
            F.round(
                F.col("v_c") - F.col("trend") - F.col("seasonal"), 6
            ).alias("residual"),
        )
    )


def events_new_vs_returning(t: dict[str, DataFrame]) -> DataFrame:
    """Daily new-vs-returning user split: for each activity day, how
    many distinct users saw their first-ever event that day vs came
    back.

    Two user-keyed shuffles (first-seen min; distinct activity days),
    then a join on the shared user_id partitioning — first_seen is a
    per-user aggregate of the fact table (unbounded cardinality at
    scale) so it is NEVER broadcast-hinted; AQE may still pick
    broadcast when measured small.  Output is |days| rows; the day is
    a yyyy-MM-dd STRING (same contract as events_daily_anomalies) so
    date-vs-timestamp dtype skew between engines cannot trip the
    driver's schema compare.
    """
    e = t["events"]
    first_seen = e.groupBy("user_id").agg(
        F.to_date(F.min("ts")).alias("first_day")
    )
    active = e.select("user_id", F.to_date("ts").alias("_day")).distinct()
    return (
        active.join(first_seen, "user_id")
        .withColumn("is_new", (F.col("_day") == F.col("first_day")).cast("int"))
        .groupBy(F.date_format("_day", "yyyy-MM-dd").alias("day"))
        .agg(
            F.sum("is_new").alias("new_users"),
            F.sum(F.lit(1) - F.col("is_new")).alias("returning_users"),
        )
        .orderBy("day")
    )


def events_type_cooccurrence(t: dict[str, DataFrame]) -> DataFrame:
    """Event-type co-occurrence: for each unordered pair of types, how
    many users did both — the affinity matrix behind "users who X also
    Y".

    The self-join runs on the DISTINCT (user, type) projection — at
    most |types| rows per user, not the raw event log — keyed on
    user_id so both sides share one hash partitioning.  The a < b
    predicate keeps each pair once.  Output is |types|² / 2 rows.
    """
    e = t["events"]
    ut = e.select("user_id", "event_type").distinct()
    a = ut.alias("a")
    b = ut.alias("b")
    return (
        a.join(b, "user_id")
        .where(F.col("a.event_type") < F.col("b.event_type"))
        .groupBy(
            F.col("a.event_type").alias("type_a"),
            F.col("b.event_type").alias("type_b"),
        )
        .agg(F.count(F.lit(1)).alias("n_users"))
        .orderBy("type_a", "type_b")
    )


def customer_ltv_deciles(t: dict[str, DataFrame], buckets: int = 10) -> DataFrame:
    """Customer lifetime-value deciles: rank customers by total order
    value, split into deciles, report each decile's size, revenue sum,
    mean, and share of total — the standard LTV concentration report.

    Revenue accumulates in exact DECIMAL, so every downstream double is
    a single deterministic division.  The decile uses the PARALLEL
    ntile (range-sorted partition offsets, ops.core.parallel_ntile) —
    per-customer aggregates are unbounded at 100 TB and must not
    collapse into one ``Window.orderBy`` task; output is bit-identical
    to SQL ntile so the oracle is unchanged.  Ties break on custkey.
    """
    from pyspark.sql import Window as W

    from fuel_spark.ops.core import parallel_ntile

    o = t["orders"]
    per_cust = o.groupBy("o_custkey").agg(
        F.sum(F.col("o_totalprice").cast(DEC)).alias("ltv")
    )
    ranked = parallel_ntile(
        per_cust, [(-F.col("ltv")).alias("_negltv"), F.col("o_custkey")],
        buckets, out_col="decile",
    )
    by_decile = ranked.groupBy("decile").agg(
        F.count(F.lit(1)).alias("n_customers"),
        F.sum("ltv").alias("_rev"),
    )
    total = F.sum("_rev").over(W.partitionBy())
    return (
        by_decile.select(
            "decile",
            "n_customers",
            F.round(F.col("_rev").cast("double"), 6).alias("revenue"),
            F.round(
                F.col("_rev").cast("double") / F.col("n_customers"), 6
            ).alias("avg_ltv"),
            F.round(
                F.col("_rev").cast("double") / total.cast("double"), 6
            ).alias("share"),
        )
        .orderBy("decile")
    )


def shipping_delay_stats(t: dict[str, DataFrame]) -> DataFrame:
    """Fulfilment latency: order→ship delay distribution per order
    priority (mean via exact decimal, interpolated median, max) plus
    the slow fraction (shipped more than 90 days after the order).

    The only join is the irreducible fact⋈fact orders⋈lineitem on
    orderkey (same SMJ shape as Q3/Q12 — shared hash partitioning,
    never broadcast); delays are integer day counts so every statistic
    is deterministic at any parallelism.
    """
    l = t["lineitem"].select("l_orderkey", "l_shipdate")
    o = t["orders"].select("o_orderkey", "o_orderdate", "o_orderpriority")
    delay = F.datediff("l_shipdate", "o_orderdate")
    j = l.join(o, F.col("l_orderkey") == F.col("o_orderkey")).select(
        "o_orderpriority", delay.alias("delay_days")
    )
    late = F.when(F.col("delay_days") > 90, 1).otherwise(0)
    return (
        j.groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.round(
                F.sum(F.col("delay_days").cast(DEC)).cast("double")
                / F.count(F.lit(1)),
                6,
            ).alias("avg_delay_days"),
            F.round(F.expr("percentile(delay_days, 0.5)"), 6).alias(
                "p50_delay_days"
            ),
            F.max("delay_days").alias("max_delay_days"),
            F.round(
                F.sum(late).cast("double") / F.count(F.lit(1)), 6
            ).alias("late_frac"),
        )
        .orderBy("o_orderpriority")
    )


def events_session_stats(
    t: dict[str, DataFrame], gap_minutes: int = 30
) -> DataFrame:
    """Session-quality rollup over the gap-based sessionization: how
    many sessions, how long, how deep, and what fraction bounce
    (single-event sessions) — the engagement-health one-liner.

    Reuses the sessionize plan (one user-keyed window shuffle) and
    reduces its per-session rows to a single global row; means divide
    exact sums, the median is interpolated over integer seconds.
    """
    sess = events_sessionize(t, gap_minutes=gap_minutes)
    return sess.agg(
        F.count(F.lit(1)).alias("n_sessions"),
        F.round(
            F.sum(F.col("n_events").cast(DEC)).cast("double")
            / F.count(F.lit(1)),
            6,
        ).alias("avg_events_per_session"),
        F.round(
            F.sum(F.col("duration_sec").cast(DEC)).cast("double")
            / F.count(F.lit(1)),
            6,
        ).alias("avg_duration_sec"),
        F.round(F.expr("percentile(duration_sec, 0.5)"), 6).alias(
            "p50_duration_sec"
        ),
        F.round(
            F.sum(F.when(F.col("n_events") == 1, 1).otherwise(0))
            .cast("double")
            / F.count(F.lit(1)),
            6,
        ).alias("bounce_rate"),
    )


def events_value_histogram(
    t: dict[str, DataFrame], width: float = 10.0
) -> DataFrame:
    """Per-type value histogram in fixed-width buckets with exact
    bucket revenue — the distribution behind the quantile readouts.

    Single map-side-combinable rollup over |types| x |buckets| groups;
    bucket assignment is per-row arithmetic (identical fp ops in both
    engines), revenue accumulates in exact decimal.
    """
    e = t["events"]
    lo = (F.floor(F.col("value") / width) * width).cast("double")
    return (
        e.groupBy("event_type", lo.alias("bucket_lo"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum(F.col("value").cast(DEC)).cast("double"), 6).alias(
                "sum_value"
            ),
        )
        .orderBy("event_type", "bucket_lo")
    )


def events_churn(t: dict[str, DataFrame], window_days: int = 10) -> DataFrame:
    """Window-over-window churn: users active in the prior window who
    did (retained) or did not (churned) come back in the most recent
    window, plus the users the recent window gained (new).

    The corpus horizon (max day) rides along as a broadcast 1-row
    relation — no driver pass; the two activity sets are one distinct
    (user, window) projection wide, full-outer-joined on the shared
    user_id partitioning.  Output is a single row.
    """
    e = t["events"]
    horizon = e.agg(F.to_date(F.max("ts")).alias("_d_max"))
    tagged = (
        e.select("user_id", F.to_date("ts").alias("_day"))
        .crossJoin(F.broadcast(horizon))
        .withColumn("_age", F.datediff("_d_max", "_day"))
        .where(F.col("_age") < 2 * window_days)
        .select(
            "user_id",
            (F.col("_age") < window_days).alias("_recent"),
        )
        .distinct()
    )
    flags = tagged.groupBy("user_id").agg(
        F.max(F.when(F.col("_recent"), 1).otherwise(0)).alias("in_recent"),
        F.max(F.when(~F.col("_recent"), 1).otherwise(0)).alias("in_prior"),
    )
    return flags.agg(
        F.sum("in_prior").alias("n_prior"),
        F.sum(
            F.when((F.col("in_prior") == 1) & (F.col("in_recent") == 1), 1)
            .otherwise(0)
        ).alias("n_retained"),
        F.sum(
            F.when((F.col("in_prior") == 1) & (F.col("in_recent") == 0), 1)
            .otherwise(0)
        ).alias("n_churned"),
        F.sum(
            F.when((F.col("in_prior") == 0) & (F.col("in_recent") == 1), 1)
            .otherwise(0)
        ).alias("n_new"),
    ).select(
        "n_prior",
        "n_retained",
        "n_churned",
        "n_new",
        F.round(
            F.col("n_churned").cast("double")
            / F.greatest(F.col("n_prior"), F.lit(1)),
            6,
        ).alias("churn_rate"),
    )


def basket_part_pairs(t: dict[str, DataFrame], top: int = 20) -> DataFrame:
    """Market-basket affinity: the part pairs most often ordered
    together, counted over distinct parts per order.

    The self-join runs on the DISTINCT (order, part) projection keyed
    by orderkey — both sides share one hash partitioning, and per-order
    expansion is bounded by the lines-per-order cap (TPC-H ≤ 7), so the
    pair stream is a small constant factor of the fact table, never
    quadratic.  Top-k is TakeOrdered (no global sort materializes).
    """
    l = t["lineitem"].select("l_orderkey", "l_partkey").distinct()
    a = l.alias("a")
    b = l.alias("b")
    pairs = (
        a.join(b, "l_orderkey")
        .where(F.col("a.l_partkey") < F.col("b.l_partkey"))
        .groupBy(
            F.col("a.l_partkey").alias("part_a"),
            F.col("b.l_partkey").alias("part_b"),
        )
        .agg(F.count(F.lit(1)).alias("n_orders"))
    )
    return pairs.orderBy(
        F.desc("n_orders"), F.asc("part_a"), F.asc("part_b")
    ).limit(top)


def revenue_concentration(t: dict[str, DataFrame]) -> DataFrame:
    """Gini coefficient of customer revenue concentration (plus the
    top-decile share) — the one-number inequality readout over the
    LTV distribution.

    Gini over the per-customer aggregate via the rank identity
    G = (2·Σ i·x_i) / (n·Σ x) − (n+1)/n with x ascending: one
    user-keyed aggregate shuffle, then ranks from the PARALLEL
    partition-offset positions (ops.core.with_positions — identical to
    the global row_number, but the unbounded per-customer aggregate
    never collapses to one task); exact decimal sums — every double is
    a final division.
    """
    from fuel_spark.ops.core import with_positions

    o = t["orders"]
    per_cust = o.groupBy("o_custkey").agg(
        F.sum(F.col("o_totalprice").cast(DEC)).alias("ltv")
    )
    ranked = with_positions(
        per_cust, [F.col("ltv"), F.col("o_custkey")], pos_col="i", base=1
    )
    return ranked.agg(
        F.count(F.lit(1)).alias("n_customers"),
        F.sum("ltv").alias("_tot"),
        F.sum(F.col("ltv") * F.col("i")).alias("_wsum"),
    ).select(
        "n_customers",
        F.round(F.col("_tot").cast("double"), 6).alias("total_revenue"),
        F.round(
            F.lit(2.0) * F.col("_wsum").cast("double")
            / (F.col("n_customers") * F.col("_tot").cast("double"))
            - (F.col("n_customers") + F.lit(1.0)) / F.col("n_customers"),
            6,
        ).alias("gini"),
    )


def events_ab_test(t: dict[str, DataFrame], salt: str = "exp1") -> DataFrame:
    """Deterministic A/B experiment readout: users hash-split into two
    arms (md5 over salt+user — the reproducible assignment every
    experiment framework needs), then per-arm population, activity,
    purchase conversion, and exact-decimal revenue.

    Assignment is a pure projection (no join — the arm derives from
    the user id); one user-keyed rollup then a 2-row arm rollup.
    """
    e = t["events"]
    arm = F.when(
        F.conv(
            F.substring(
                F.md5(F.concat_ws("-", F.lit(salt), F.col("user_id").cast("string"))),
                1, 6,
            ),
            16, 10,
        ).cast("bigint") % 2 == 0,
        "A",
    ).otherwise("B")
    per_user = (
        e.withColumn("arm", arm)
        .groupBy("arm", "user_id")
        .agg(
            F.count(F.lit(1)).alias("n_ev"),
            F.max(
                F.when(F.col("event_type") == "purchase", 1).otherwise(0)
            ).alias("converted"),
            F.sum(F.col("value").cast(DEC)).alias("val"),
        )
    )
    return (
        per_user.groupBy("arm")
        .agg(
            F.count(F.lit(1)).alias("n_users"),
            F.sum("n_ev").alias("n_events"),
            F.round(
                F.sum("converted").cast("double") / F.count(F.lit(1)), 6
            ).alias("conversion"),
            F.round(F.sum("val").cast("double"), 6).alias("total_value"),
        )
        .orderBy("arm")
    )


def orders_monthly_growth(t: dict[str, DataFrame]) -> DataFrame:
    """Monthly order volume and revenue with month-over-month growth —
    the trend line behind the seasonality profile.

    One map-side-combinable rollup to |months| rows; the growth lag
    window runs over those aggregate rows only.  Revenue accumulates
    in exact decimal; growth divides two already-rounded doubles.
    """
    from pyspark.sql import Window as W

    o = t["orders"]
    m = o.groupBy(
        F.date_format("o_orderdate", "yyyy-MM").alias("month")
    ).agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.round(
            F.sum(F.col("o_totalprice").cast(DEC)).cast("double"), 6
        ).alias("revenue"),
    )
    prev = F.lag("revenue").over(W.orderBy("month"))
    return m.select(
        "month",
        "n_orders",
        "revenue",
        F.when(prev.isNull(), F.lit(None).cast("double"))
        .otherwise(F.round((F.col("revenue") - prev) / prev, 6))
        .alias("mom_growth"),
    ).orderBy("month")


def events_user_path_topk(
    t: dict[str, DataFrame], steps: int = 3, top: int = 15
) -> DataFrame:
    """Most common 3-step user paths: consecutive event-type
    sequences per user, counted corpus-wide — the flow-mining view the
    pairwise transition matrix can't show.

    One user-keyed window shuffle (two lags over the per-user
    timeline, ties broken by event_id) then a map-side-combinable
    rollup over the |types|³ path space; top-k is TakeOrdered.
    """
    from pyspark.sql import Window as W

    e = t["events"]
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    seq = e.select(
        F.lag("event_type", 2).over(w).alias("step1"),
        F.lag("event_type", 1).over(w).alias("step2"),
        F.col("event_type").alias("step3"),
    ).where(F.col("step1").isNotNull())
    return (
        seq.groupBy("step1", "step2", "step3")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), "step1", "step2", "step3")
        .limit(top)
    )


def customer_order_gaps(t: dict[str, DataFrame]) -> DataFrame:
    """Repeat-purchase cadence by market segment: days between a
    customer's consecutive orders, rolled up per segment (mean via
    exact decimal, interpolated median).

    The lag window is partitioned per customer — never global — and
    the segment dim joins broadcast; gaps are integer day counts.
    """
    from pyspark.sql import Window as W

    o = t["orders"]
    c = t["customer"]
    w = W.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    gaps = (
        o.select(
            "o_custkey",
            F.datediff(
                "o_orderdate", F.lag("o_orderdate").over(w)
            ).alias("gap_days"),
        )
        .where(F.col("gap_days").isNotNull())
        .join(
            broadcast(c.select("c_custkey", "c_mktsegment")),
            F.col("o_custkey") == F.col("c_custkey"),
        )
    )
    return (
        gaps.groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_gaps"),
            F.round(
                F.sum(F.col("gap_days").cast(DEC)).cast("double")
                / F.count(F.lit(1)),
                6,
            ).alias("avg_gap_days"),
            F.round(F.expr("percentile(gap_days, 0.5)"), 6).alias(
                "p50_gap_days"
            ),
        )
        .orderBy("c_mktsegment")
    )


def part_price_stats(t: dict[str, DataFrame]) -> DataFrame:
    """Catalog price profile per brand: part counts, distinct types,
    exact price extrema and mean — the dimension-table profiling twin
    of the fact-side rollups.

    Single small-table rollup (parts are a dim); exact decimal mean.
    """
    p = t["part"]
    return (
        p.groupBy("p_brand")
        .agg(
            F.count(F.lit(1)).alias("n_parts"),
            F.count_distinct("p_type").alias("n_types"),
            F.round(F.min("p_retailprice"), 6).alias("min_price"),
            F.round(F.max("p_retailprice"), 6).alias("max_price"),
            F.round(
                F.sum(F.col("p_retailprice").cast(DEC)).cast("double")
                / F.count(F.lit(1)),
                6,
            ).alias("avg_price"),
        )
        .orderBy("p_brand")
    )


def supplier_balance_tiers(t: dict[str, DataFrame]) -> DataFrame:
    """Supplier account-balance tiers per nation: counts and exact
    mean balance in debt / low / high bands — the credit-risk slice of
    the supplier dimension.

    Two broadcast dims, one small rollup (suppliers are a dim table);
    the tier is a per-row CASE.
    """
    s = t["supplier"]
    n = t["nation"]
    tier = (
        F.when(F.col("s_acctbal") < 0, "debt")
        .when(F.col("s_acctbal") <= 5000, "low")
        .otherwise("high")
    )
    return (
        s.join(
            broadcast(n.select("n_nationkey", "n_name")),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .groupBy("n_name", tier.alias("tier"))
        .agg(
            F.count(F.lit(1)).alias("n_suppliers"),
            F.round(
                F.sum(F.col("s_acctbal").cast(DEC)).cast("double")
                / F.count(F.lit(1)),
                6,
            ).alias("avg_acctbal"),
        )
        .orderBy("n_name", "tier")
    )


def priority_mix_by_segment(t: dict[str, DataFrame]) -> DataFrame:
    """Order-priority mix per market segment: the |segments| x
    |priorities| composition matrix with within-segment shares.

    Customer dim broadcast into the fact scan, one map-side-combinable
    rollup, share window over aggregate rows only.
    """
    from pyspark.sql import Window as W

    o = t["orders"]
    c = t["customer"]
    m = (
        o.join(
            broadcast(c.select("c_custkey", "c_mktsegment")),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .groupBy("c_mktsegment", "o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n_orders"))
    )
    tot = F.sum("n_orders").over(W.partitionBy("c_mktsegment"))
    return m.select(
        "c_mktsegment",
        "o_orderpriority",
        "n_orders",
        F.round(F.col("n_orders").cast("double") / tot, 6).alias(
            "share_of_segment"
        ),
    ).orderBy("c_mktsegment", "o_orderpriority")


def events_user_anomalies(
    t: dict[str, DataFrame], top: int = 20
) -> DataFrame:
    """Bot/outlier screen: per-user event counts z-scored against the
    population (exact-decimal Σx/Σx² moments — the engine's portable
    stddev), top |z| users reported.

    One user-keyed rollup; the 1-row moment relation broadcasts back
    (never the user table); top-k is TakeOrdered.  At 100 TB the
    per-user aggregate is unbounded — nothing here sorts or broadcasts
    it.
    """
    e = t["events"]
    per_user = e.groupBy("user_id").agg(F.count(F.lit(1)).alias("n_events"))
    moments = per_user.groupBy().agg(
        F.count(F.lit(1)).alias("_n"),
        F.sum(F.col("n_events").cast(DEC)).cast("double").alias("_s1"),
        F.sum((F.col("n_events") * F.col("n_events")).cast(DEC))
        .cast("double")
        .alias("_s2"),
    )
    mean = F.col("_s1") / F.col("_n")
    var = F.col("_s2") / F.col("_n") - mean * mean
    z = (F.col("n_events") - mean) / F.sqrt(F.greatest(var, F.lit(1e-12)))
    return (
        per_user.crossJoin(broadcast(moments))
        .select("user_id", "n_events", F.round(z, 6).alias("z"))
        .orderBy(F.desc(F.abs(F.col("z"))), F.asc("user_id"))
        .limit(top)
    )


def orders_size_histogram(t: dict[str, DataFrame]) -> DataFrame:
    """Order-size distribution: how many line items per order, with
    shares — the basket-depth shape behind fulfilment planning.

    One orderkey rollup (map-side combinable) then a |sizes|-row
    histogram; shares divide exact BIGINTs over the tiny aggregate.
    """
    from pyspark.sql import Window as W

    l = t["lineitem"]
    per_order = l.groupBy("l_orderkey").agg(
        F.count(F.lit(1)).alias("n_lines")
    )
    h = per_order.groupBy("n_lines").agg(F.count(F.lit(1)).alias("n_orders"))
    total = F.sum("n_orders").over(W.partitionBy())
    return (
        h.select(
            "n_lines",
            "n_orders",
            F.round(F.col("n_orders").cast("double") / total, 6).alias("share"),
        )
        .orderBy("n_lines")
    )


def events_conversion_lag(t: dict[str, DataFrame]) -> DataFrame:
    """View→purchase conversion latency: per converting user the gap
    between first view and first later purchase, reduced to
    distribution stats (exact-decimal mean, interpolated quartiles).

    One user-keyed rollup with two conditional mins — no join, no
    window; the lag math is exact µs integers.
    """
    e = t["events"]
    per_user = e.groupBy("user_id").agg(
        F.min(
            F.when(F.col("event_type") == "view", F.unix_micros("ts"))
        ).alias("_v"),
        F.min(
            F.when(F.col("event_type") == "purchase", F.unix_micros("ts"))
        ).alias("_p"),
    )
    lags = per_user.where(
        F.col("_v").isNotNull() & F.col("_p").isNotNull() & (F.col("_p") > F.col("_v"))
    ).select(((F.col("_p") - F.col("_v"))).alias("lag_us"))
    return lags.agg(
        F.count(F.lit(1)).alias("n_converters"),
        F.round(
            F.sum(F.col("lag_us").cast(DEC)).cast("double")
            / F.count(F.lit(1)) / 3600e6,
            6,
        ).alias("avg_lag_hours"),
        F.round(F.expr("percentile(lag_us, 0.25)") / 3600e6, 6).alias(
            "p25_lag_hours"
        ),
        F.round(F.expr("percentile(lag_us, 0.5)") / 3600e6, 6).alias(
            "p50_lag_hours"
        ),
        F.round(F.expr("percentile(lag_us, 0.75)") / 3600e6, 6).alias(
            "p75_lag_hours"
        ),
    )


def customer_order_freq(t: dict[str, DataFrame]) -> DataFrame:
    """Order-frequency histogram: customers bucketed by lifetime order
    count, with shares and the one-and-done rate implied by bucket 1 —
    the repeat-purchase health curve.

    One custkey rollup, |frequencies|-row histogram.
    """
    from pyspark.sql import Window as W

    o = t["orders"]
    per_cust = o.groupBy("o_custkey").agg(F.count(F.lit(1)).alias("n_orders"))
    h = per_cust.groupBy("n_orders").agg(
        F.count(F.lit(1)).alias("n_customers")
    )
    total = F.sum("n_customers").over(W.partitionBy())
    return (
        h.select(
            "n_orders",
            "n_customers",
            F.round(F.col("n_customers").cast("double") / total, 6).alias(
                "share"
            ),
        )
        .orderBy("n_orders")
    )


def events_monthly_type_mix(t: dict[str, DataFrame]) -> DataFrame:
    """Event-mix drift: per (month, type) counts and within-month
    shares — composition change over time (the input to retraining /
    alerting on behavioral drift).

    One rollup to |months| x |types| rows; the share window runs over
    that aggregate only.
    """
    from pyspark.sql import Window as W

    e = t["events"]
    m = e.groupBy(
        F.date_format("ts", "yyyy-MM").alias("month"), "event_type"
    ).agg(F.count(F.lit(1)).alias("n"))
    total = F.sum("n").over(W.partitionBy("month"))
    return m.select(
        "month",
        "event_type",
        "n",
        F.round(F.col("n").cast("double") / total, 6).alias("share_of_month"),
    ).orderBy("month", "event_type")


def discount_revenue_curve(t: dict[str, DataFrame]) -> DataFrame:
    """Pricing curve: revenue and volume by discount level — the
    elasticity readout (does deeper discounting buy proportionate
    volume?).

    Single scan, |discount levels| groups, exact-decimal revenue.
    """
    l = t["lineitem"]
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        l.groupBy(F.round(F.col("l_discount"), 2).alias("discount"))
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            _dsum(F.col("l_quantity")).alias("total_qty"),
            _dsum(rev).alias("revenue"),
        )
        .orderBy("discount")
    )


def events_retention_curve(t: dict[str, DataFrame]) -> DataFrame:
    """Blended day-N retention curve: for each day offset, the share
    of users (across all cohorts that could have reached that offset)
    who were active — the single curve the cohort triangle rolls up
    to.

    Builds on the cohort rollup (two user-keyed shuffles); the
    eligibility denominator (cohort sizes × offsets each cohort can
    reach, bounded by the horizon) is computed over the |cohorts|-row
    aggregate with a broadcast horizon — nothing beyond the triangle
    ever materializes.
    """
    from pyspark.sql import Window as W

    e = t["events"]
    first_seen = e.groupBy("user_id").agg(
        F.to_date(F.min("ts")).alias("cohort_day")
    )
    active = (
        e.select("user_id", F.to_date("ts").alias("day"))
        .distinct()
        .join(first_seen, "user_id")
        .withColumn(
            "day_offset", F.datediff("day", "cohort_day").cast("bigint")
        )
    )
    retained = active.groupBy("day_offset").agg(
        F.count(F.lit(1)).alias("n_retained")
    )
    sizes = first_seen.groupBy("cohort_day").agg(
        F.count(F.lit(1)).alias("n_users")
    )
    horizon = e.agg(F.to_date(F.max("ts")).alias("_d_max"))
    # eligible(offset) = Σ over cohorts whose span covers the offset
    eligible = (
        sizes.crossJoin(F.broadcast(horizon))
        .withColumn("_span", F.datediff("_d_max", "cohort_day").cast("bigint"))
        .select(
            F.explode(F.expr("sequence(0, _span)")).alias("day_offset"),
            "n_users",
        )
        .groupBy("day_offset")
        .agg(F.sum("n_users").alias("n_eligible"))
    )
    return (
        eligible.join(retained, "day_offset", "left")
        .select(
            "day_offset",
            F.coalesce("n_retained", F.lit(0)).alias("n_retained"),
            "n_eligible",
            F.round(
                F.coalesce("n_retained", F.lit(0)).cast("double")
                / F.col("n_eligible"),
                6,
            ).alias("retention"),
        )
        .orderBy("day_offset")
    )


def column_correlation(
    df: DataFrame, x_col: str, y_col: str
) -> DataFrame:
    """Exact Pearson correlation between two numeric columns from
    decimal-exact moments (Σx, Σy, Σxy, Σx², Σy²) — the engine's
    portable `corr` (float-accumulated corr differs across engines and
    partitionings; this one is bit-deterministic).

    Single scan, one 1-row aggregate.
    """
    x = F.col(x_col).cast("double")
    y = F.col(y_col).cast("double")
    m = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(x.cast(DEC)).cast("double").alias("_sx"),
        F.sum(y.cast(DEC)).cast("double").alias("_sy"),
        F.sum((x * y).cast(DEC)).cast("double").alias("_sxy"),
        F.sum((x * x).cast(DEC)).cast("double").alias("_sxx"),
        F.sum((y * y).cast(DEC)).cast("double").alias("_syy"),
    )
    n = F.col("n")
    cov = F.col("_sxy") / n - (F.col("_sx") / n) * (F.col("_sy") / n)
    vx = F.col("_sxx") / n - (F.col("_sx") / n) * (F.col("_sx") / n)
    vy = F.col("_syy") / n - (F.col("_sy") / n) * (F.col("_sy") / n)
    return m.select(
        "n",
        F.round(cov / F.sqrt(F.greatest(vx * vy, F.lit(1e-300))), 6).alias(
            "pearson_r"
        ),
    )


def events_dow_hour_heatmap(t: dict[str, DataFrame]) -> DataFrame:
    """Weekly seasonality heatmap: event counts by (day-of-week,
    hour-of-day) with global shares — the 7×24 load grid behind
    staffing/capacity curves (the hourly profile collapsed across the
    week misses weekday-vs-weekend structure).

    Single rollup to ≤168 rows; shares divide exact BIGINTs.
    """
    from pyspark.sql import Window as W

    e = t["events"]
    g = e.groupBy(
        F.dayofweek("ts").alias("dow"), F.hour("ts").alias("hour")
    ).agg(F.count(F.lit(1)).alias("n"))
    total = F.sum("n").over(W.partitionBy())
    return g.select(
        "dow",
        "hour",
        "n",
        F.round(F.col("n").cast("double") / total, 6).alias("share"),
    ).orderBy("dow", "hour")


def returns_by_month(t: dict[str, DataFrame]) -> DataFrame:
    """Return-rate trend: per ship month, the share of line items (and
    of revenue) flagged returned — the quality-drift curve behind the
    Q10 customer-level view.

    Single scan, |months| groups, exact decimal revenue.
    """
    l = t["lineitem"]
    ret = F.when(F.col("l_returnflag") == "R", 1).otherwise(0)
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        l.groupBy(F.date_format("l_shipdate", "yyyy-MM").alias("ship_month"))
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.round(
                F.sum(ret).cast("double") / F.count(F.lit(1)), 6
            ).alias("return_rate"),
            _dsum(rev).alias("revenue"),
            _dsum(F.when(F.col("l_returnflag") == "R", rev).otherwise(0.0)).alias(
                "returned_revenue"
            ),
        )
        .orderBy("ship_month")
    )


def events_gap_histogram(t: dict[str, DataFrame]) -> DataFrame:
    """Inter-event gap distribution in log₂-second buckets — the
    shape behind the interarrival summary stats (bot traffic spikes
    the sub-second buckets, human sessions the minutes band).

    Same partitioned lag as events_interarrival; the bucket edge is
    floor(log₂(gap_s + 1)), exact at every power-of-two boundary, so
    both engines bucket identically.  Output ≤ ~40 rows.
    """
    from pyspark.sql import Window as W

    e = t["events"]
    sec = F.unix_micros(F.col("ts")) / F.lit(1_000_000)
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    gaps = (
        e.select((sec - F.lag(sec).over(w)).alias("gap_s"))
        .where(F.col("gap_s").isNotNull())
    )
    bucket = F.floor(F.log2(F.col("gap_s").cast("double") + F.lit(1.0)))
    h = gaps.groupBy(bucket.cast("bigint").alias("log2_bucket")).agg(
        F.count(F.lit(1)).alias("n_gaps")
    )
    total = F.sum("n_gaps").over(W.partitionBy())
    return h.select(
        "log2_bucket",
        (F.pow(F.lit(2.0), F.col("log2_bucket")) - 1).alias("gap_s_lo"),
        "n_gaps",
        F.round(F.col("n_gaps").cast("double") / total, 6).alias("share"),
    ).orderBy("log2_bucket")


def events_rfm_segments(
    t: dict[str, DataFrame],
    recent_days: int = 7,
    frequent_n: int = 50,
) -> DataFrame:
    """RFM lifecycle segmentation: users bucketed into the classic
    quadrants (champion = recent & frequent, loyal = stale but
    frequent, fresh = recent but light, at_risk = neither), with
    counts and exact-decimal monetary totals per segment — the
    productized rollup over :func:`events_user_rfm`'s feature block.

    Same single user-keyed shuffle as the feature query; the segment
    is a per-row CASE, the rollup is 4 rows.
    """
    rfm = events_user_rfm(t)
    recent = F.col("recency_days") < recent_days
    frequent = F.col("frequency") >= frequent_n
    seg = (
        F.when(recent & frequent, "champion")
        .when(~recent & frequent, "loyal")
        .when(recent & ~frequent, "fresh")
        .otherwise("at_risk")
    )
    return (
        rfm.groupBy(seg.alias("segment"))
        .agg(
            F.count(F.lit(1)).alias("n_users"),
            F.round(
                F.sum(F.col("monetary").cast(DEC)).cast("double"), 6
            ).alias("total_monetary"),
            F.round(
                F.sum(F.col("frequency").cast(DEC)).cast("double")
                / F.count(F.lit(1)),
                6,
            ).alias("avg_frequency"),
        )
        .orderBy("segment")
    )


def events_diff_in_diff(
    t: dict[str, DataFrame], salt: str = "exp1"
) -> DataFrame:
    """Difference-in-differences readout: per-user mean event value
    in the pre vs post half of the window, for a hash-assigned
    treatment arm vs control — the observational-analytics workhorse
    when a clean A/B wasn't run (the interaction term strips out both
    the arm's level difference and the secular time trend).

    Reuses the deterministic md5 arm assignment and the in-plan
    window midpoint (broadcast 1-row bounds + integer DIV).  Output
    is the 2×2 of exact-decimal means plus the DiD estimate
    ((treat_post − treat_pre) − (ctrl_post − ctrl_pre)) — one row.
    """
    e = t["events"]
    us = F.unix_micros(F.col("ts"))
    bounds = e.agg(F.min(us).alias("_lo"), F.max(us).alias("_hi"))
    arm = F.when(
        F.conv(
            F.substring(
                F.md5(F.concat_ws("-", F.lit(salt), F.col("user_id").cast("string"))),
                1, 6,
            ),
            16, 10,
        ).cast("bigint") % 2 == 0,
        "treat",
    ).otherwise("ctrl")
    period = F.when(us <= F.expr("(_lo + _hi) DIV 2"), "pre").otherwise("post")
    cells = (
        e.crossJoin(broadcast(bounds))
        .select(arm.alias("arm"), period.alias("period"), "value")
        .groupBy("arm", "period")
        .agg(
            (
                F.sum(F.col("value").cast(DEC)).cast("double")
                / F.count(F.lit(1))
            ).alias("mean_value")
        )
    )
    # pivot both dims at once via a concat key (a plain pivot keeps
    # only one dimension)
    keyed = cells.select(
        F.concat_ws("_", "arm", "period").alias("k"), "mean_value"
    )
    w = keyed.groupBy().pivot(
        "k", ["treat_pre", "treat_post", "ctrl_pre", "ctrl_post"]
    ).agg(F.first("mean_value"))
    did = (F.col("treat_post") - F.col("treat_pre")) - (
        F.col("ctrl_post") - F.col("ctrl_pre")
    )
    return w.select(
        F.round("treat_pre", 6).alias("treat_pre"),
        F.round("treat_post", 6).alias("treat_post"),
        F.round("ctrl_pre", 6).alias("ctrl_pre"),
        F.round("ctrl_post", 6).alias("ctrl_post"),
        F.round(did, 6).alias("did_estimate"),
    )


def events_segment_migration(
    t: dict[str, DataFrame], heavy_n: int = 20, regular_n: int = 5
) -> DataFrame:
    """Activity-segment transition matrix between the first and second
    half of the event window: how many users moved heavy→light,
    appeared (inactive→…), or churned out — the lifecycle-flow view
    behind every retention initiative, where the per-period RFM
    rollup only shows the stocks.

    The window midpoint derives in-plan (1-row min/max bounds agg,
    broadcast back; integer-microsecond DIV so both engines split on
    the same tick).  One user-half rollup, a user-keyed full-outer
    self-join of the two halves (absent side → 'inactive'), and an
    aggregate-sized matrix rollup.  Fixed thresholds keep the segment
    rule a row-local CASE — deterministic everywhere.
    """
    e = t["events"]
    us = F.unix_micros(F.col("ts"))
    bounds = e.agg(F.min(us).alias("_lo"), F.max(us).alias("_hi"))
    labeled = e.crossJoin(broadcast(bounds)).withColumn(
        "half",
        F.when(
            us <= F.expr("(_lo + _hi) DIV 2"), F.lit(1)
        ).otherwise(F.lit(2)),
    )
    counts = labeled.groupBy("user_id", "half").agg(
        F.count(F.lit(1)).alias("n")
    )
    seg = (
        F.when(F.col("n") >= heavy_n, "heavy")
        .when(F.col("n") >= regular_n, "regular")
        .otherwise("light")
    )
    segs = counts.select("user_id", "half", seg.alias("seg"))
    h1 = segs.where(F.col("half") == 1).select(
        "user_id", F.col("seg").alias("from_segment")
    )
    h2 = segs.where(F.col("half") == 2).select(
        "user_id", F.col("seg").alias("to_segment")
    )
    moved = h1.join(h2, "user_id", "full_outer").select(
        F.coalesce("from_segment", F.lit("inactive")).alias("from_segment"),
        F.coalesce("to_segment", F.lit("inactive")).alias("to_segment"),
    )
    return moved.groupBy("from_segment", "to_segment").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_users")
    )


def customer_cohort_ltv(t: dict[str, DataFrame]) -> DataFrame:
    """Cohort LTV triangle over orders: customers grouped by
    first-order month, revenue accumulated per month offset — the
    payback-curve view (does the 2024-03 cohort monetize faster than
    2024-01?), the revenue twin of the retention triangle.

    Month arithmetic is integer (year·12+month), so offsets are
    engine-exact; one customer-keyed min for the cohort, one
    broadcast-joinable cohort map, exact-DECIMAL revenue cells.
    """
    o = t["orders"]
    ym = F.year("o_orderdate") * 12 + F.month("o_orderdate")
    first = o.groupBy("o_custkey").agg(F.min(ym).alias("_cohort_ym"))
    cells = (
        o.join(first, "o_custkey")
        .select(
            F.col("_cohort_ym"),
            (ym - F.col("_cohort_ym")).alias("month_offset"),
            "o_totalprice",
            "o_custkey",
        )
        .groupBy("_cohort_ym", "month_offset")
        .agg(
            F.count_distinct("o_custkey").cast("bigint").alias("n_customers"),
            _dsum(F.col("o_totalprice")).alias("revenue"),
        )
    )
    cohort_str = F.concat_ws(
        "-",
        F.floor((F.col("_cohort_ym") - 1) / 12).cast("int"),
        F.lpad(
            ((F.col("_cohort_ym") - 1) % 12 + 1).cast("string"), 2, "0"
        ),
    )
    return cells.select(
        cohort_str.alias("cohort_month"),
        F.col("month_offset").cast("bigint").alias("month_offset"),
        "n_customers",
        "revenue",
    )


def supplier_revenue_concentration(t: dict[str, DataFrame]) -> DataFrame:
    """Supply-side concentration: Gini of supplier revenue (from the
    fact table) plus the top-decile share — procurement-risk readout,
    the supplier twin of customer revenue_concentration.

    One suppkey rollup off the scan, ranks from the parallel
    partition-offset positions (unbounded supplier aggregate never
    sorts in one task), exact decimal sums.
    """
    from fuel_spark.ops.core import with_positions

    l = t["lineitem"]
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    per_supp = l.groupBy("l_suppkey").agg(
        F.sum(rev.cast(DEC)).alias("srev")
    )
    ranked = with_positions(
        per_supp, [F.col("srev"), F.col("l_suppkey")], pos_col="i", base=1
    )
    return ranked.agg(
        F.count(F.lit(1)).alias("n_suppliers"),
        F.sum("srev").alias("_tot"),
        F.sum(F.col("srev") * F.col("i")).alias("_wsum"),
    ).select(
        "n_suppliers",
        F.round(F.col("_tot").cast("double"), 6).alias("total_revenue"),
        F.round(
            F.lit(2.0) * F.col("_wsum").cast("double")
            / (F.col("n_suppliers") * F.col("_tot").cast("double"))
            - (F.col("n_suppliers") + F.lit(1.0)) / F.col("n_suppliers"),
            6,
        ).alias("gini"),
    )


def events_entry_points(t: dict[str, DataFrame]) -> DataFrame:
    """Entry-point mix: the distribution of each user's FIRST event
    type — where journeys start (the acquisition-side complement of
    the funnel's conversion view).

    Per-user argmin via min(struct(ts, event_id, type)) — one
    map-side-combinable shuffle, no window — then a |types|-row
    rollup with shares.
    """
    from pyspark.sql import Window as W

    e = t["events"]
    first = e.groupBy("user_id").agg(
        F.min(F.struct("ts", "event_id", "event_type")).alias("_f")
    )
    m = first.groupBy(F.col("_f.event_type").alias("first_event_type")).agg(
        F.count(F.lit(1)).alias("n_users")
    )
    total = F.sum("n_users").over(W.partitionBy())
    return m.select(
        "first_event_type",
        "n_users",
        F.round(F.col("n_users").cast("double") / total, 6).alias("share"),
    ).orderBy("first_event_type")


def events_benford(t: dict[str, DataFrame]) -> DataFrame:
    """Benford's-law digit audit over event values: observed share of
    each leading significant digit vs the log10(1 + 1/d) prediction —
    the classic fabricated-data / instrumentation-bug screen (organic
    multiplicative quantities follow Benford; injected or clamped
    values do not).

    The leading digit is extracted without float formatting or
    rounding-mode hazards: floor(value·100) is IEEE-exact, and a
    BIGINT→string cast renders identically on every engine, so the
    digit bucketing is bit-portable.  One scan, one 9-row rollup.

    Output: digit, n, share, expected, deviation (round 6).
    """
    from pyspark.sql import Window as W

    e = t["events"]
    v = F.col("value").cast("double")
    digit = F.substring(
        F.floor(v * F.lit(100.0)).cast("long").cast("string"), 1, 1
    )
    g = (
        e.where(v >= 0.01)
        .select(digit.alias("digit"))
        .groupBy("digit")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    total = F.sum("n").over(W.partitionBy())
    d = F.col("digit").cast("double")
    expected = F.log10(F.lit(1.0) + F.lit(1.0) / d)
    share = F.col("n").cast("double") / total
    return g.select(
        "digit",
        "n",
        F.round(share, 6).alias("share"),
        F.round(expected, 6).alias("expected"),
        F.round(share - expected, 6).alias("deviation"),
    ).orderBy("digit")


def events_markov_stationary(
    t: dict[str, DataFrame], iterations: int = 3
) -> DataFrame:
    """Stationary behavior profile of the per-user event-type Markov
    chain: start uniform over observed types and apply ``iterations``
    power steps of v←vP, where P is the row-normalized transition
    matrix of :func:`events_transitions` — "where does a user's
    session settle", the long-run occupancy behind engagement-mix
    forecasts.

    The chain extraction is the only corpus-scale work (one user-keyed
    lag window + a |types|²-sized count rollup, ties broken by
    event_id exactly as in events_transitions); every iteration frame
    is |types|-sized.  Per-step products round to 9 dp and sum as
    exact DECIMAL (the pagerank/fixed-iteration float contract), so
    the result is bit-deterministic and exact-hash comparable against
    the unrolled-CTE oracle.  Types with no outgoing transitions
    absorb-and-drop their mass (documented; none exist in corpora
    where every user emits ≥2 events of every terminal type's
    successor set).

    Output: state, prob (round 6), ordered by state.
    """
    from pyspark.sql import Window as W

    e = t["events"]
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    seq = e.select(
        F.col("event_type").alias("to_type"),
        F.lag("event_type").over(w).alias("from_type"),
    ).where(F.col("from_type").isNotNull())
    c = seq.groupBy("from_type", "to_type").agg(F.count(F.lit(1)).alias("n"))
    tot = c.groupBy("from_type").agg(F.sum("n").alias("_rt"))
    P = materialize(  # consumed once per iteration
        c.join(F.broadcast(tot), "from_type")
        .select(
            "from_type",
            "to_type",
            F.round(F.col("n").cast("double") / F.col("_rt"), 9).alias("p"),
        )
    )
    states = e.select(F.col("event_type").alias("state")).distinct()
    ns = states.agg(F.count(F.lit(1)).cast("double").alias("_k"))
    v = states.crossJoin(F.broadcast(ns)).select(
        "state", (F.lit(1.0) / F.col("_k")).alias("prob")
    )
    for _ in range(int(iterations)):
        stepped = (
            P.join(v, P.from_type == v.state)
            .select(
                F.col("to_type").alias("state"),
                F.round(F.col("prob") * F.col("p"), 9)
                .cast("decimal(27,18)")
                .alias("_c"),
            )
            .groupBy("state")
            .agg(F.sum("_c").cast("double").alias("_in"))
        )
        v = states.join(stepped, "state", "left").select(
            "state", F.coalesce("_in", F.lit(0.0)).alias("prob")
        )
    return v.select("state", F.round("prob", 6).alias("prob")).orderBy("state")


def events_kaplan_meier(
    t: dict[str, DataFrame], censor_days: int = 7
) -> DataFrame:
    """Kaplan–Meier survival curve of user lifetime (first event →
    last event), right-censoring users whose last activity falls
    within ``censor_days`` of the observation end — the standard
    churn/retention estimator (Kaplan & Meier 1958), which the naive
    "share still active after t days" curve biases by counting
    not-yet-churned users as churned.

    One user rollup (first/last ts), then EVERYTHING is
    duration-grid-sized: deaths/censorings per duration day, at-risk
    counts from a reverse cumulative sum, and the survival product as
    exp of a cumulative sum of round-9 ln terms summed as exact
    DECIMAL — the repo's float contract, so the curve exact-hash
    compares.  A duration where every at-risk user dies sends the
    product to 0; the ln-sum tier handles it with a sticky
    cummax-zero flag instead of ln(0).

    Output: duration_days, n_risk, deaths, censored, survival
    (round 6), ordered by duration.
    """
    from pyspark.sql import Window as W

    e = t["events"]
    per_user = e.groupBy("user_id").agg(
        F.min("ts").alias("_first"), F.max("ts").alias("_last")
    )
    obs_end = e.agg(F.max("ts").alias("_end"))
    u = per_user.crossJoin(F.broadcast(obs_end)).select(
        F.datediff(F.col("_last"), F.col("_first")).alias("duration_days"),
        (
            F.datediff(F.col("_end"), F.col("_last")) >= F.lit(int(censor_days))
        ).cast("int").alias("died"),
    )
    grid = u.groupBy("duration_days").agg(
        F.sum("died").alias("deaths"),
        F.sum(F.lit(1) - F.col("died")).alias("censored"),
    )
    w = W.orderBy("duration_days")
    # at risk at t: everyone with duration >= t  (reverse cumsum over
    # the duration grid — aggregate-sized by construction)
    grid = grid.withColumn(
        "n_risk",
        F.sum(F.col("deaths") + F.col("censored")).over(
            w.rowsBetween(W.currentRow, W.unboundedFollowing)
        ),
    )
    term = F.lit(1.0) - F.col("deaths").cast("double") / F.col(
        "n_risk"
    ).cast("double")
    grid = grid.withColumn(
        "_dead_all", F.max((F.col("deaths") == F.col("n_risk")).cast("int")).over(
            w.rowsBetween(W.unboundedPreceding, W.currentRow)
        )
    ).withColumn(
        "_lnsum",
        F.sum(
            F.when(
                F.col("deaths") < F.col("n_risk"),
                F.round(F.log(term), 9).cast("decimal(27,18)"),
            ).otherwise(F.lit(0).cast("decimal(27,18)"))
        ).over(w.rowsBetween(W.unboundedPreceding, W.currentRow)),
    )
    surv = F.when(F.col("_dead_all") == 1, F.lit(0.0)).otherwise(
        F.exp(F.col("_lnsum").cast("double"))
    )
    return grid.select(
        "duration_days",
        "n_risk",
        "deaths",
        "censored",
        F.round(surv, 6).alias("survival"),
    ).orderBy("duration_days")


def events_cusum(t: dict[str, DataFrame]) -> DataFrame:
    """CUSUM changepoint scan (Page 1954) over the daily event-count
    series: cumulative sum of deviations from the series mean, with
    the peak |CUSUM| day flagged — the standard "when did the level
    shift" monitoring statistic (a flat series wanders near 0; a mean
    shift at day d makes |CUSUM| peak at d).

    One scan to a day-grid rollup; the mean joins back as a broadcast
    1-row aggregate and the cumulative sum runs over the grid-sized
    frame as exact DECIMAL of round-6 deviations (float contract).

    Output: day, n, cusum (round 6), is_peak — ordered by day.
    """
    from pyspark.sql import Window as W

    e = t["events"]
    daily = e.groupBy(F.to_date("ts").alias("day")).agg(
        F.count(F.lit(1)).alias("n")
    )
    mean = daily.agg(
        (F.sum("n").cast("double") / F.count(F.lit(1))).alias("_mu")
    )
    w = W.orderBy("day")
    out = (
        daily.crossJoin(F.broadcast(mean))
        .withColumn(
            "_dev", F.round(F.col("n").cast("double") - F.col("_mu"), 6)
        )
        .withColumn(
            "cusum",
            F.sum(F.col("_dev").cast("decimal(27,6)"))
            .over(w.rowsBetween(W.unboundedPreceding, W.currentRow))
            .cast("double"),
        )
        .withColumn(
            "_peak",
            F.max(F.abs("cusum")).over(
                w.rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
            ),
        )
    )
    # day as a STRING: pandas date-vs-datetime64 dtype skew between
    # engines would break the gate's canonicalization (the r2 lesson)
    return out.select(
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        "n",
        F.round("cusum", 6).alias("cusum"),
        (F.abs("cusum") == F.col("_peak")).alias("is_peak"),
    ).orderBy("day")


def pricing_model_ols(t: dict[str, DataFrame]) -> DataFrame:
    """Two-regressor OLS by exact normal equations: extendedprice ~
    quantity + discount over lineitem, solved in closed form from
    DECIMAL-exact moments (the multivariate extension of
    :func:`column_correlation` / the trend ops) — coefficient
    attribution ("how much does a unit of quantity buy?") without any
    iterative fit.

    Single scan, one 1-row aggregate of nine rounded-product moments;
    the 2×2 covariance system solves by Cramer's rule in one fixed
    double-arithmetic expression chain, so the coefficients are
    bit-portable.  Output: n, b0, b1_quantity, b2_discount, r2
    (round 6).
    """
    l = t["lineitem"]
    x1 = F.col("l_quantity").cast("double")
    x2 = F.col("l_discount").cast("double")
    y = F.col("l_extendedprice").cast("double")
    m = l.agg(
        F.count(F.lit(1)).alias("n"),
        *[
            F.sum(expr.cast(DEC)).cast("double").alias(name)
            for name, expr in [
                ("_s1", x1), ("_s2", x2), ("_sy", y),
                ("_s11", x1 * x1), ("_s22", x2 * x2), ("_s12", x1 * x2),
                ("_s1y", x1 * y), ("_s2y", x2 * y), ("_syy", y * y),
            ]
        ],
    )
    n = F.col("n").cast("double")
    m1 = F.col("_s1") / n
    m2 = F.col("_s2") / n
    my = F.col("_sy") / n
    s11 = F.col("_s11") / n - m1 * m1
    s22 = F.col("_s22") / n - m2 * m2
    s12 = F.col("_s12") / n - m1 * m2
    c1 = F.col("_s1y") / n - m1 * my
    c2 = F.col("_s2y") / n - m2 * my
    vy = F.col("_syy") / n - my * my
    det = s11 * s22 - s12 * s12
    b1 = (s22 * c1 - s12 * c2) / det
    b2 = (s11 * c2 - s12 * c1) / det
    b0 = my - b1 * m1 - b2 * m2
    r2 = (b1 * c1 + b2 * c2) / vy
    return m.select(
        "n",
        F.round(b0, 6).alias("b0"),
        F.round(b1, 6).alias("b1_quantity"),
        F.round(b2, 6).alias("b2_discount"),
        F.round(r2, 6).alias("r2"),
    )


def events_markov_entropy(
    t: dict[str, DataFrame], iterations: int = 3
) -> DataFrame:
    """Entropy rate of the user event-type Markov chain:
    H = −Σ_i π_i Σ_j P_ij ln P_ij nats per step — how predictable the
    next action is given the current one (0 = deterministic journeys,
    ln|types| = uniform wandering); the single-number summary of the
    transition structure.

    Pure composition of two pinned ops: π from
    :func:`events_markov_stationary` (3 power steps) and P from
    :func:`events_transitions`, both at their round-6 contracts;
    per-cell terms round to 9 dp and sum as exact DECIMAL.  Both
    inputs are |types|-sized, so everything after the two chain
    extractions is trivial.  Output: one row — n_states,
    entropy_rate (round 6).
    """
    pi = events_markov_stationary(t, iterations=iterations)
    P = events_transitions(t).select("from_type", "to_type", "p")
    terms = (
        P.join(F.broadcast(pi), P.from_type == pi.state)
        .select(
            F.round(
                F.col("prob") * F.col("p") * F.log(F.col("p")), 9
            )
            .cast("decimal(27,18)")
            .alias("_t")
        )
    )
    ns = pi.agg(F.count(F.lit(1)).alias("n_states"))
    h = terms.agg((-F.sum("_t").cast("double")).alias("_h"))
    return ns.crossJoin(F.broadcast(h)).select(
        "n_states",
        (F.round("_h", 6) + F.lit(0.0)).alias("entropy_rate"),
    )


def lineitem_spearman(
    t: dict[str, DataFrame],
    x_col: str = "l_quantity",
    y_col: str = "l_discount",
) -> DataFrame:
    """Spearman rank correlation via HISTOGRAM MIDRANKS: both columns
    take few distinct values, so average ranks come from per-value
    counts and a cumulative window over the value grid — never the
    corpus-sized global rank window the textbook formulation plans
    (the same scale move as the histogram AUC).  Monotone-dependence
    detection where Pearson under-reads curvature.

    Two grid-sized midrank maps broadcast back onto one corpus scan;
    Pearson of the midranks from DECIMAL-exact moments.  Midranks can
    reach corpus scale, so moment products round to 4 dp before the
    DECIMAL cast (scale headroom: rank² at 10^12 rows needs 24 integer
    digits; DECIMAL(38,4) holds 34).  Output: n, spearman_rho
    (round 6).
    """
    from pyspark.sql import Window as W

    l = t["lineitem"]

    def _midranks(col):
        g = l.groupBy(F.col(col).alias("v")).agg(
            F.count(F.lit(1)).alias("_n")
        )
        w = W.orderBy("v")
        return g.select(
            "v",
            (
                F.coalesce(
                    F.sum("_n").over(w.rowsBetween(W.unboundedPreceding, -1)),
                    F.lit(0),
                ).cast("double")
                + (F.col("_n").cast("double") + F.lit(1.0)) / F.lit(2.0)
            ).alias("_r"),
        )
    rx = _midranks(x_col).withColumnRenamed("v", "_vx").withColumnRenamed("_r", "_rx")
    ry = _midranks(y_col).withColumnRenamed("v", "_vy").withColumnRenamed("_r", "_ry")
    ranked = (
        l.select(F.col(x_col).alias("_vx"), F.col(y_col).alias("_vy"))
        .join(F.broadcast(rx), "_vx")
        .join(F.broadcast(ry), "_vy")
    )
    DECR = "decimal(38,4)"
    x = F.col("_rx")
    y = F.col("_ry")
    m = ranked.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(x.cast(DECR)).cast("double").alias("_sx"),
        F.sum(y.cast(DECR)).cast("double").alias("_sy"),
        F.sum(F.round(x * y, 4).cast(DECR)).cast("double").alias("_sxy"),
        F.sum(F.round(x * x, 4).cast(DECR)).cast("double").alias("_sxx"),
        F.sum(F.round(y * y, 4).cast(DECR)).cast("double").alias("_syy"),
    )
    n = F.col("n").cast("double")
    cov = F.col("_sxy") / n - (F.col("_sx") / n) * (F.col("_sy") / n)
    vx = F.col("_sxx") / n - (F.col("_sx") / n) * (F.col("_sx") / n)
    vy = F.col("_syy") / n - (F.col("_sy") / n) * (F.col("_sy") / n)
    return m.select(
        "n",
        (
            F.round(cov / F.sqrt(F.greatest(vx * vy, F.lit(1e-300))), 6)
            + F.lit(0.0)
        ).alias("spearman_rho"),
    )


def events_weekday_js(t: dict[str, DataFrame]) -> DataFrame:
    """Jensen–Shannon divergence between the weekday and weekend
    event-type mixes (Lin 1991): the symmetric, bounded (≤ ln 2)
    answer to "does weekend behavior differ", robust where one-sided
    KL blows up on missing types.

    One scan to a 2×|types| grid; JS terms (zero-count sides
    contribute 0 by the 0·ln 0 convention) round to 9 dp and sum as
    exact DECIMAL.  Output: one row — n_weekday, n_weekend, js_nats,
    js_normalized (js/ln 2, round 6).
    """
    e = t["events"]
    wk = F.dayofweek("ts").isin(1, 7)  # Sun=1, Sat=7
    g = e.groupBy(
        F.col("event_type").alias("typ"), wk.alias("_is_we")
    ).agg(F.count(F.lit(1)).alias("_n"))
    pivot = g.groupBy("typ").agg(
        F.sum(F.when(~F.col("_is_we"), F.col("_n")).otherwise(0)).alias("_wd"),
        F.sum(F.when(F.col("_is_we"), F.col("_n")).otherwise(0)).alias("_we"),
    )
    tot = pivot.agg(
        F.sum("_wd").cast("double").alias("_twd"),
        F.sum("_we").cast("double").alias("_twe"),
    )
    j = pivot.crossJoin(F.broadcast(tot)).select(
        (F.col("_wd").cast("double") / F.col("_twd")).alias("p"),
        (F.col("_we").cast("double") / F.col("_twe")).alias("q"),
        "_twd",
        "_twe",
    )
    mm = (F.col("p") + F.col("q")) / F.lit(2.0)
    term = (
        F.when(F.col("p") > 0, F.col("p") * F.log(F.col("p") / mm)).otherwise(F.lit(0.0))
        + F.when(F.col("q") > 0, F.col("q") * F.log(F.col("q") / mm)).otherwise(F.lit(0.0))
    ) / F.lit(2.0)
    out = j.select(
        F.col("_twd"),
        F.col("_twe"),
        F.round(term, 9).cast("decimal(27,18)").alias("_t"),
    ).groupBy("_twd", "_twe").agg(F.sum("_t").cast("double").alias("_js"))
    import math

    return out.select(
        F.col("_twd").cast("bigint").alias("n_weekday"),
        F.col("_twe").cast("bigint").alias("n_weekend"),
        F.round("_js", 6).alias("js_nats"),
        F.round(F.col("_js") / F.lit(math.log(2.0)), 6).alias("js_normalized"),
    )


def events_daily_acf(
    t: dict[str, DataFrame], max_lag: int = 7
) -> DataFrame:
    """Autocorrelation function of the daily event-count series at
    calendar lags 1..``max_lag`` (Box & Jenkins): the weekly-rhythm /
    trend diagnostic that decides differencing and seasonality terms
    before any forecast.

    One scan to the day grid; each lag is a broadcast self-join of
    the grid on day−k (CALENDAR lag — a missing day yields no pair,
    stated, rather than silently pairing non-adjacent rows); products
    round to 6 dp and sum as exact DECIMAL, normalized by the
    full-series variance (the standard ACF denominator).

    Output: lag, n_pairs, acf (round 6), ordered by lag.
    """
    e = t["events"]
    daily = e.groupBy(F.to_date("ts").alias("d")).agg(
        F.count(F.lit(1)).alias("n")
    )
    stats = daily.agg(
        (F.sum("n").cast("double") / F.count(F.lit(1))).alias("_mu"),
        F.count(F.lit(1)).alias("_nd"),
    )
    d0 = materialize(
        daily.crossJoin(F.broadcast(stats)).select(
            "d",
            (F.col("n").cast("double") - F.col("_mu")).alias("_dev"),
            "_nd",
        )
    )
    denom = d0.select(
        F.round(F.col("_dev") * F.col("_dev"), 6)
        .cast("decimal(27,6)")
        .alias("_t")
    ).agg(F.sum("_t").cast("double").alias("_var"))
    lags = d0.sparkSession.range(1, int(max_lag) + 1).select(
        F.col("id").cast("int").alias("lag")
    )
    pairs = (
        d0.crossJoin(F.broadcast(lags))
        .select("lag", F.date_add("d", F.col("lag")).alias("d"), F.col("_dev").alias("_prev"))
        .join(d0.select("d", "_dev"), "d")
    )
    num = pairs.groupBy("lag").agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.sum(
            F.round(F.col("_prev") * F.col("_dev"), 6).cast("decimal(27,6)")
        ).cast("double").alias("_num"),
    )
    return (
        num.crossJoin(F.broadcast(denom))
        .select(
            "lag",
            "n_pairs",
            (F.round(F.col("_num") / F.col("_var"), 6) + F.lit(0.0)).alias("acf"),
        )
        .orderBy("lag")
    )


def events_runs_test(t: dict[str, DataFrame]) -> DataFrame:
    """Wald–Wolfowitz runs test on the daily event-count series,
    dichotomized ABOVE-MEAN vs NOT (the equals-dropped classic
    variant needs an exact median; above/below the mean is the
    engine-portable dichotomy, stated): too few runs = trending /
    regime-driven, too many = oscillating, z ≈ 0 = serially random.

    Day-grid-sized throughout: one lag window counts sign changes;
    the z-statistic uses the exact integer run/count moments (sqrt is
    IEEE-correctly-rounded, so it stays in the float contract).

    Output: one row — n_days, n_above, n_below, runs, z (round 6).
    """
    from pyspark.sql import Window as W

    e = t["events"]
    daily = e.groupBy(F.to_date("ts").alias("d")).agg(
        F.count(F.lit(1)).alias("n")
    )
    mu = daily.agg(
        (F.sum("n").cast("double") / F.count(F.lit(1))).alias("_mu")
    )
    s = daily.crossJoin(F.broadcast(mu)).select(
        "d", (F.col("n").cast("double") > F.col("_mu")).cast("int").alias("_s")
    )
    w = W.orderBy("d")
    runs = s.withColumn("_prev", F.lag("_s").over(w)).agg(
        F.count(F.lit(1)).alias("n_days"),
        F.sum("_s").alias("n_above"),
        (F.count(F.lit(1)) - F.sum("_s")).alias("n_below"),
        (
            F.sum(
                F.when(
                    F.col("_prev").isNull() | (F.col("_s") != F.col("_prev")),
                    1,
                ).otherwise(0)
            )
        ).alias("runs"),
    )
    n1 = F.col("n_above").cast("double")
    n2 = F.col("n_below").cast("double")
    nn = n1 + n2
    mu_r = F.lit(2.0) * n1 * n2 / nn + F.lit(1.0)
    var_r = (
        F.lit(2.0) * n1 * n2 * (F.lit(2.0) * n1 * n2 - n1 - n2)
    ) / (nn * nn * (nn - F.lit(1.0)))
    z = (F.col("runs").cast("double") - mu_r) / F.sqrt(
        F.greatest(var_r, F.lit(1e-300))
    )
    return runs.select(
        "n_days", "n_above", "n_below", "runs",
        (F.round(z, 6) + F.lit(0.0)).alias("z"),
    )


def events_daily_gapfill(t: dict[str, DataFrame]) -> DataFrame:
    """Calendar gap-filling with linear interpolation: materialize
    every day between the series' min and max, and fill absent days
    by interpolating between the nearest observed neighbors (edges
    clamp to the nearest observation) — the prerequisite for any
    lag/rolling computation that assumes a dense time axis.

    Day-grid-sized throughout; neighbor lookup avoids IGNORE NULLS
    (not portable to the oracle dialect) via two window extremes over
    observed day NUMBERS plus grid self-joins to fetch their values.

    Output: day (string), n (observed or NULL), filled (round 6),
    is_observed — ordered by day.
    """
    from pyspark.sql import Window as W

    e = t["events"]
    daily = e.groupBy(F.to_date("ts").alias("d")).agg(
        F.count(F.lit(1)).alias("n")
    )
    bounds = daily.agg(F.min("d").alias("_lo"), F.max("d").alias("_hi"))
    grid = bounds.select(
        F.explode(F.expr("sequence(_lo, _hi, interval 1 day)")).alias("d")
    )
    g = (
        grid.join(daily, "d", "left")
        .crossJoin(F.broadcast(bounds))
        .select(F.datediff("d", "_lo").alias("_dn"), "d", "n")
    )
    w = W.orderBy("_dn")
    g = (
        g.withColumn(
            "_pd",
            F.max(F.when(F.col("n").isNotNull(), F.col("_dn"))).over(
                w.rowsBetween(W.unboundedPreceding, W.currentRow)
            ),
        )
        .withColumn(
            "_nd",
            F.min(F.when(F.col("n").isNotNull(), F.col("_dn"))).over(
                w.rowsBetween(W.currentRow, W.unboundedFollowing)
            ),
        )
    )
    vals = g.where(F.col("n").isNotNull()).select(
        F.col("_dn").alias("_vd"), F.col("n").alias("_vn")
    )
    g = (
        g.join(
            F.broadcast(vals.withColumnRenamed("_vd", "_pd").withColumnRenamed("_vn", "_pv")),
            "_pd",
            "left",
        )
        .join(
            F.broadcast(vals.withColumnRenamed("_vd", "_nd").withColumnRenamed("_vn", "_nv")),
            "_nd",
            "left",
        )
    )
    filled = (
        F.when(F.col("n").isNotNull(), F.col("n").cast("double"))
        .when(
            F.col("_pv").isNotNull() & F.col("_nv").isNotNull(),
            F.col("_pv").cast("double")
            + (F.col("_nv").cast("double") - F.col("_pv").cast("double"))
            * (F.col("_dn") - F.col("_pd")).cast("double")
            / (F.col("_nd") - F.col("_pd")).cast("double"),
        )
        .when(F.col("_pv").isNotNull(), F.col("_pv").cast("double"))
        .otherwise(F.col("_nv").cast("double"))
    )
    return g.select(
        F.date_format("d", "yyyy-MM-dd").alias("day"),
        "n",
        F.round(filled, 6).alias("filled"),
        F.col("n").isNotNull().alias("is_observed"),
    ).orderBy("day")


def events_mann_kendall(t: dict[str, DataFrame]) -> DataFrame:
    """Mann–Kendall trend test (Mann 1945; Kendall's S) on the daily
    event-count series: S = Σ_{i<j} sign(x_j − x_i) with the
    tie-corrected variance and continuity-corrected z — the standard
    nonparametric monotone-trend detector (no linearity or
    distribution assumption, unlike the OLS trend ops).

    Day-grid-sized throughout: the pair sum is a self-join of the
    ≤|days|² grid (bounded by the calendar, not the corpus), tie
    groups roll up by value, and every moment is exact integer
    arithmetic until the final z (IEEE sqrt).

    Output: one row — n_days, s_stat, z (round 6).
    """
    e = t["events"]
    daily = e.groupBy(F.to_date("ts").alias("d")).agg(
        F.count(F.lit(1)).alias("n")
    )
    daily = materialize(daily)  # self-join + ties + count
    a = daily.select(F.col("d").alias("_da"), F.col("n").alias("_na"))
    b = daily.select(F.col("d").alias("_db"), F.col("n").alias("_nb"))
    s = (
        a.join(F.broadcast(b), F.col("_da") < F.col("_db"))
        .agg(
            F.sum(
                F.when(F.col("_nb") > F.col("_na"), 1)
                .when(F.col("_nb") < F.col("_na"), -1)
                .otherwise(0)
            ).alias("s_stat")
        )
    )
    nd = daily.agg(F.count(F.lit(1)).alias("n_days"))
    ties = (
        daily.groupBy("n")
        .agg(F.count(F.lit(1)).alias("_t"))
        .where(F.col("_t") > 1)
        .agg(
            F.coalesce(
                F.sum(
                    F.col("_t")
                    * (F.col("_t") - 1)
                    * (F.lit(2) * F.col("_t") + 5)
                ),
                F.lit(0),
            ).alias("_tie_sum")
        )
    )
    out = nd.crossJoin(F.broadcast(s)).crossJoin(F.broadcast(ties))
    n = F.col("n_days").cast("double")
    var = (
        n * (n - F.lit(1.0)) * (F.lit(2.0) * n + F.lit(5.0))
        - F.col("_tie_sum").cast("double")
    ) / F.lit(18.0)
    sd = F.sqrt(F.greatest(var, F.lit(1e-300)))
    sc = F.col("s_stat").cast("double")
    z = (
        F.when(sc > 0, (sc - F.lit(1.0)) / sd)
        .when(sc < 0, (sc + F.lit(1.0)) / sd)
        .otherwise(F.lit(0.0))
    )
    return out.select(
        "n_days",
        F.col("s_stat").cast("bigint").alias("s_stat"),
        (F.round(z, 6) + F.lit(0.0)).alias("z"),
    )


def events_ks_test(
    t: dict[str, DataFrame],
    type_a: str = "purchase",
    type_b: str = "click",
    quantize: int = 4,
) -> DataFrame:
    """Two-sample Kolmogorov–Smirnov test between the value
    distributions of two event types: D = max |F_a − F_b| with the
    asymptotic Kolmogorov p-value — "do purchases and clicks draw
    from the same value distribution", the distribution-free
    two-sample screen.

    Values quantize to ``quantize`` decimals first, so the ECDF
    comparison runs over a BOUNDED grid (the AUC scale move; the
    quantization coarsens D by at most the mass of a collapsed bin —
    stated); both cumulative distributions come from one window over
    the merged grid.  The p-value uses the first three terms of the
    Kolmogorov series 2·Σ (−1)^{k−1} exp(−2k²λ²) (standard
    asymptotic approximation, stated), clamped to [0, 1].

    Output: one row — n_a, n_b, d_stat, p_approx (round 6).
    """
    from pyspark.sql import Window as W

    e = t["events"]
    g = (
        e.where(F.col("event_type").isin(type_a, type_b))
        .select(
            F.round(F.col("value").cast("double"), int(quantize)).alias("v"),
            (F.col("event_type") == type_a).cast("int").alias("_a"),
        )
        .groupBy("v")
        .agg(
            F.sum("_a").alias("_na"),
            (F.count(F.lit(1)) - F.sum("_a")).alias("_nb"),
        )
    )
    tot = g.agg(
        F.sum("_na").cast("double").alias("_ta"),
        F.sum("_nb").cast("double").alias("_tb"),
    )
    w = W.orderBy("v").rowsBetween(W.unboundedPreceding, W.currentRow)
    cum = g.crossJoin(F.broadcast(tot)).select(
        (F.sum("_na").over(w).cast("double") / F.col("_ta")).alias("_fa"),
        (F.sum("_nb").over(w).cast("double") / F.col("_tb")).alias("_fb"),
        "_ta",
        "_tb",
    )
    d = cum.groupBy("_ta", "_tb").agg(
        F.max(F.abs(F.col("_fa") - F.col("_fb"))).alias("_d")
    )
    lam = F.col("_d") * F.sqrt(
        F.col("_ta") * F.col("_tb") / (F.col("_ta") + F.col("_tb"))
    )
    p = F.lit(2.0) * (
        F.exp(F.lit(-2.0) * lam * lam)
        - F.exp(F.lit(-8.0) * lam * lam)
        + F.exp(F.lit(-18.0) * lam * lam)
    )
    return d.select(
        F.col("_ta").cast("bigint").alias("n_a"),
        F.col("_tb").cast("bigint").alias("n_b"),
        F.round("_d", 6).alias("d_stat"),
        F.round(F.least(F.greatest(p, F.lit(0.0)), F.lit(1.0)), 6).alias(
            "p_approx"
        ),
    )


def customer_theil_index(t: dict[str, DataFrame]) -> DataFrame:
    """Theil T inequality index (Theil 1967) of customer lifetime
    value: T = (1/n)·Σ (x/μ)·ln(x/μ) — 0 = perfectly equal, ln n =
    one customer holds everything; the decomposable complement to the
    Gini/Pareto views already in the suite.

    One LTV rollup, a broadcast 1-row mean, round-9 DECIMAL term
    sums.  Zero-LTV customers contribute 0 (lim x→0 of x ln x,
    stated).  Output: one row — n, mean_ltv, theil (round 6).
    """
    o = t["orders"]
    ltv = o.groupBy("o_custkey").agg(
        _dsum(F.col("o_totalprice")).alias("_x")
    )
    mu = ltv.agg(
        (F.sum(F.col("_x").cast(DEC)).cast("double") / F.count(F.lit(1))).alias("_mu"),
        F.count(F.lit(1)).alias("n"),
    )
    terms = ltv.crossJoin(F.broadcast(mu)).select(
        "n",
        F.when(
            F.col("_x") > 0,
            F.round(
                (F.col("_x") / F.col("_mu"))
                * F.log(F.col("_x") / F.col("_mu")),
                9,
            ),
        )
        .otherwise(F.lit(0.0))
        .cast("decimal(27,18)")
        .alias("_t"),
        F.col("_mu"),
    )
    out = terms.groupBy("n", "_mu").agg(
        F.sum("_t").cast("double").alias("_s")
    )
    return out.select(
        "n",
        F.round("_mu", 6).alias("mean_ltv"),
        F.round(F.col("_s") / F.col("n").cast("double"), 6).alias("theil"),
    )


def part_price_elasticity(
    t: dict[str, DataFrame], min_lines: int = 20, top_k: int = 50
) -> DataFrame:
    """GROUPED closed-form regression — one OLS per part, all in a
    single aggregation pass: slope of quantity on discount per part
    ("does discounting move volume for THIS part"), the per-entity
    elasticity screen.  The pattern matters as much as the statistic:
    a million tiny regressions as ONE groupBy of decimal-exact
    moments — never a per-group fit loop, never a corpus-sized
    window.

    Parts with fewer than ``min_lines`` lines are dropped (an OLS on
    a handful of points is noise, stated); output is the ``top_k``
    most negative slopes (steepest elasticity) with deterministic
    (slope, part) tie-break.

    Output: l_partkey, n_lines, slope, intercept (round 6).
    """
    l = t["lineitem"]
    x = F.col("l_discount").cast("double")
    y = F.col("l_quantity").cast("double")
    m = l.groupBy("l_partkey").agg(
        F.count(F.lit(1)).alias("n_lines"),
        F.sum(x.cast(DEC)).cast("double").alias("_sx"),
        F.sum(y.cast(DEC)).cast("double").alias("_sy"),
        F.sum((x * y).cast(DEC)).cast("double").alias("_sxy"),
        F.sum((x * x).cast(DEC)).cast("double").alias("_sxx"),
    )
    m = m.where(F.col("n_lines") >= int(min_lines))
    n = F.col("n_lines").cast("double")
    denom = n * F.col("_sxx") - F.col("_sx") * F.col("_sx")
    slope = (n * F.col("_sxy") - F.col("_sx") * F.col("_sy")) / denom
    intercept = (F.col("_sy") - slope * F.col("_sx")) / n
    out = m.where(denom != 0).select(
        "l_partkey",
        "n_lines",
        F.round(slope, 6).alias("slope"),
        F.round(intercept, 6).alias("intercept"),
    )
    return out.orderBy(F.asc("slope"), F.asc("l_partkey")).limit(int(top_k))


def events_jarque_bera(t: dict[str, DataFrame]) -> DataFrame:
    """Skewness, excess kurtosis and the Jarque–Bera normality
    statistic of event values: JB = n/6·(S² + K²/4) — the
    moment-based "is this metric even roughly Gaussian" screen that
    decides whether z-score anomaly rules are usable at all.

    One pass of four decimal-exact raw moments (value⁴ at DECIMAL
    scale 4 — headroom documented in the expression), centered
    moments and the statistic in one fixed double chain.

    Output: one row — n, mean, skewness, excess_kurtosis, jb_stat
    (round 6).
    """
    e = t["events"]
    DECJ = "decimal(38,4)"
    v = F.col("value").cast("double")
    m = e.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(v.cast(DECJ)).cast("double").alias("_s1"),
        F.sum((v * v).cast(DECJ)).cast("double").alias("_s2"),
        F.sum((v * v * v).cast(DECJ)).cast("double").alias("_s3"),
        F.sum((v * v * v * v).cast(DECJ)).cast("double").alias("_s4"),
    )
    n = F.col("n").cast("double")
    mu = F.col("_s1") / n
    m2 = F.col("_s2") / n - mu * mu
    m3 = F.col("_s3") / n - F.lit(3.0) * mu * (F.col("_s2") / n) + F.lit(2.0) * mu * mu * mu
    m4 = (
        F.col("_s4") / n
        - F.lit(4.0) * mu * (F.col("_s3") / n)
        + F.lit(6.0) * mu * mu * (F.col("_s2") / n)
        - F.lit(3.0) * mu * mu * mu * mu
    )
    sk = m3 / F.sqrt(F.greatest(m2 * m2 * m2, F.lit(1e-300)))
    ek = m4 / F.greatest(m2 * m2, F.lit(1e-300)) - F.lit(3.0)
    jb = n / F.lit(6.0) * (sk * sk + ek * ek / F.lit(4.0))
    return m.select(
        "n",
        F.round(mu, 6).alias("mean"),
        F.round(sk, 6).alias("skewness"),
        F.round(ek, 6).alias("excess_kurtosis"),
        F.round(jb, 6).alias("jb_stat"),
    )


def events_psi_weekly(
    t: dict[str, DataFrame],
    bin_width: float = 50.0,
    n_bins: int = 10,
    eps: float = 1e-6,
) -> DataFrame:
    """Population Stability Index of the event-value distribution,
    week over week: PSI = Σ_bins (p−q)·ln(p/q) with epsilon-floored
    proportions — the standard model-monitoring drift score (PSI <
    0.1 stable, 0.1–0.25 shifting, > 0.25 drifted), here the "did
    this week's traffic change shape" screen that gates retraining
    and flags ingestion regressions.

    Weeks index from a fixed epoch (floor(days-since-1970 / 7)), so
    the bucketing is deterministic at any data range — no min(ts)
    scan, no cross-engine week-truncation ambiguity.  One fact pass
    builds the (week × bin) histogram; everything after (dense grid
    via sequence-explode, consecutive-week self-join, 1-row-per-pair
    rollup) is aggregate-sized, ≤ weeks × n_bins rows.  Counts stay
    integer until one final double chain.  Mirrors the scale story of
    the reference's streamed statistics (fuel/transformers
    per-example running stats): histogram first, score second.

    Output: week, n_prev, n_cur, psi (round 6) — one row per
    consecutive-week pair.
    """
    e = t["events"]
    week = F.floor(
        F.datediff(F.to_date("ts"), F.to_date(F.lit("1970-01-01")))
        / F.lit(7.0)
    ).cast("bigint")
    vbin = F.least(
        F.lit(int(n_bins - 1)),
        F.greatest(
            F.lit(0),
            F.floor(F.col("value") / F.lit(float(bin_width))).cast("bigint"),
        ).cast("bigint"),
    ).cast("bigint")
    hist = (
        e.select(week.alias("week"), vbin.alias("bin"))
        .groupBy("week", "bin")
        .agg(F.count(F.lit(1)).alias("_c"))
    )
    tot = hist.groupBy("week").agg(F.sum("_c").cast("bigint").alias("_n"))
    grid = tot.select(
        "week",
        "_n",
        F.explode(F.sequence(F.lit(0), F.lit(int(n_bins - 1)))).alias("bin"),
    ).select("week", "_n", F.col("bin").cast("bigint").alias("bin"))
    dense = grid.join(hist, ["week", "bin"], "left").select(
        "week",
        "bin",
        "_n",
        F.greatest(
            F.coalesce(F.col("_c"), F.lit(0)).cast("double")
            / F.col("_n").cast("double"),
            F.lit(float(eps)),
        ).alias("p"),
    )
    prev = dense.select(
        (F.col("week") + F.lit(1)).alias("week"),
        "bin",
        F.col("_n").alias("n_prev"),
        F.col("p").alias("q"),
    )
    terms = dense.join(prev, ["week", "bin"]).select(
        "week",
        F.col("_n").alias("n_cur"),
        "n_prev",
        F.round(
            (F.col("p") - F.col("q")) * F.log(F.col("p") / F.col("q")), 9
        )
        .cast("decimal(27,18)")
        .alias("_term"),
    )
    return terms.groupBy("week", "n_prev", "n_cur").agg(
        F.round(F.sum("_term").cast("double"), 6).alias("psi")
    )


def part_abc_classification(
    t: dict[str, DataFrame], a_share: float = 0.80, b_share: float = 0.95
) -> DataFrame:
    """ABC inventory classification: rank parts by revenue, walk the
    cumulative revenue share, and label parts A (the head that carries
    ``a_share`` of revenue), B (up to ``b_share``), C (the long tail)
    — the classic Pareto stocking/curation policy, here the "which
    parts deserve per-part attention" screen.

    The cumulative share needs a GLOBAL running sum over the part-dim
    aggregate — unbounded cardinality at 100 TB, so a plain
    ``Window.orderBy`` (single-partition funnel) is out; this uses
    ``ops.core.parallel_cumsum`` (range-sorted partitions +
    broadcast per-partition offsets — bit-identical to the SQL window,
    every stage parallel).  Revenue accumulates in exact DECIMAL;
    the class compare runs on the one deterministic double division.

    Output: part_class, n_parts, revenue, revenue_share (round 6),
    ordered by class.
    """
    from fuel_spark.ops.core import parallel_cumsum

    l = t["lineitem"]
    rev = l.groupBy("l_partkey").agg(
        F.sum((F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(DEC))
        .alias("_r")
    )
    tot = rev.agg(F.sum("_r").cast("double").alias("_tr"))
    c = parallel_cumsum(
        rev, [(-F.col("_r")).alias("_neg"), F.col("l_partkey")], "_r",
        out_col="_cum",
    )
    cls = c.crossJoin(F.broadcast(tot)).select(
        "_r",
        "_tr",
        F.when(
            F.col("_cum").cast("double") / F.col("_tr")
            <= F.lit(float(a_share)),
            F.lit("A"),
        )
        .when(
            F.col("_cum").cast("double") / F.col("_tr")
            <= F.lit(float(b_share)),
            F.lit("B"),
        )
        .otherwise(F.lit("C"))
        .alias("part_class"),
    )
    return (
        cls.groupBy("part_class")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_parts"),
            F.sum("_r").alias("_rev"),
            F.max("_tr").alias("_t"),
        )
        .select(
            "part_class",
            "n_parts",
            F.round(F.col("_rev").cast("double"), 6).alias("revenue"),
            F.round(F.col("_rev").cast("double") / F.col("_t"), 6).alias(
                "revenue_share"
            ),
        )
        .orderBy("part_class")
    )


def supplier_herfindahl(t: dict[str, DataFrame]) -> DataFrame:
    """Herfindahl–Hirschman concentration index of supplier revenue
    within each nation: HHI = 10000·Σ share² — the antitrust
    concentration score (< 1500 competitive, > 2500 concentrated),
    here the supply-chain fragility screen ("does one supplier own
    this nation's volume?").

    One fact-scale rollup to supplier grain; the supplier dim
    broadcasts onto it for the nation key, nation totals are an
    aggregate-sized rollup joined back broadcast, and the share²
    terms sum as round-9 DECIMAL so the HHI is bit-deterministic at
    any parallelism.  Output: n_name, n_suppliers, revenue, hhi
    (round 6), ordered by nation.
    """
    l, s, n = t["lineitem"], t["supplier"], t["nation"]
    rev = l.groupBy("l_suppkey").agg(
        F.sum((F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(DEC))
        .alias("_r")
    )
    j = rev.join(
        broadcast(s.select("s_suppkey", "s_nationkey")),
        rev.l_suppkey == F.col("s_suppkey"),
    )
    ntot = j.groupBy("s_nationkey").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_suppliers"),
        F.sum("_r").alias("_tr"),
    )
    terms = j.join(broadcast(ntot), "s_nationkey").select(
        "s_nationkey",
        "n_suppliers",
        "_tr",
        F.round(
            (F.col("_r").cast("double") / F.col("_tr").cast("double"))
            * (F.col("_r").cast("double") / F.col("_tr").cast("double")),
            9,
        )
        .cast("decimal(27,18)")
        .alias("_t2"),
    )
    hhi = terms.groupBy("s_nationkey", "n_suppliers", "_tr").agg(
        F.sum("_t2").cast("double").alias("_h")
    )
    return (
        hhi.join(broadcast(n), hhi.s_nationkey == n.n_nationkey)
        .select(
            "n_name",
            "n_suppliers",
            F.round(F.col("_tr").cast("double"), 6).alias("revenue"),
            F.round(F.lit(10000.0) * F.col("_h"), 6).alias("hhi"),
        )
        .orderBy("n_name")
    )


def customer_gini_by_nation(t: dict[str, DataFrame]) -> DataFrame:
    """GROUPED Gini coefficient: customer-LTV inequality within each
    nation via the rank identity G = 2·Σ i·x / (n·Σx) − (n+1)/n —
    the per-market concentration readout that the global
    :func:`revenue_concentration` Gini averages away (zero-order
    customers count with LTV 0, stated).

    Per-nation ranks WITHOUT per-group single-task windows: one
    GLOBAL parallel position pass (ops.core.with_positions over
    (nation, ltv, custkey) — range-sorted partitions, broadcast
    offsets), then rank-within-nation = global_pos − the nation's
    min position + 1, an aggregate-sized broadcast join.  Rank·x
    products stay DECIMAL-exact; ties share a value so the rank sum
    is permutation-invariant and deterministic.  Output: n_name,
    n_customers, total_ltv, gini (round 6), ordered by nation.
    """
    from fuel_spark.ops.core import with_positions

    o, c, n = t["orders"], t["customer"], t["nation"]
    ltv = o.groupBy("o_custkey").agg(
        F.sum(F.col("o_totalprice").cast(DEC)).alias("_x")
    )
    base = (
        c.select("c_custkey", "c_nationkey")
        .join(ltv, c.c_custkey == ltv.o_custkey, "left")
        .select(
            "c_nationkey",
            "c_custkey",
            F.coalesce("_x", F.lit(0).cast(DEC)).alias("_x"),
        )
    )
    pos = with_positions(
        base,
        [F.col("c_nationkey"), F.col("_x"), F.col("c_custkey")],
        pos_col="_gp",
        base=1,
    )
    offs = pos.groupBy("c_nationkey").agg(F.min("_gp").alias("_o"))
    ranked = pos.join(F.broadcast(offs), "c_nationkey").select(
        "c_nationkey",
        "_x",
        (F.col("_gp") - F.col("_o") + 1).alias("_i"),
    )
    agg = ranked.groupBy("c_nationkey").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_customers"),
        F.sum("_x").alias("_sx"),
        F.sum(F.col("_x") * F.col("_i")).alias("_s1"),
    )
    g = (
        F.lit(2.0) * F.col("_s1").cast("double")
        / (F.col("n_customers").cast("double") * F.col("_sx").cast("double"))
        - (F.col("n_customers").cast("double") + F.lit(1.0))
        / F.col("n_customers").cast("double")
    )
    return (
        agg.join(broadcast(n), agg.c_nationkey == n.n_nationkey)
        .select(
            "n_name",
            "n_customers",
            F.round(F.col("_sx").cast("double"), 6).alias("total_ltv"),
            F.when(F.col("_sx") == 0, F.lit(0.0))
            .otherwise(F.round(g, 6) + F.lit(0.0))
            .alias("gini"),
        )
        .orderBy("n_name")
    )


def basket_association_rules(
    t: dict[str, DataFrame], top: int = 20
) -> DataFrame:
    """Association rules over the top co-purchase part pairs:
    support, directional confidence, and lift — the market-basket
    triple that separates "frequent because both are popular" (lift
    ≈ 1) from real affinity (lift ≫ 1); the recommender/bundling
    baseline the raw pair counts of :func:`basket_part_pairs` can't
    answer alone.

    Pair counts reuse :func:`basket_part_pairs`' bounded self-join
    (distinct (order, part) keyed by orderkey, per-order expansion
    capped by lines-per-order); item supports and the basket count N
    re-aggregate the SAME distinct projection, so Catalyst serves
    all four consumers from ONE ReusedExchange — no second scan, no
    checkpoint, no dim-wide support materialization beyond a count
    per part.  Orders with zero lines don't count in N (matches the
    SQL twin).  All counts integer; ratios are final double
    divisions.  Scale-found at 20× sf0.1, honest-force timings: a
    collect_set basket-array variant 29.7s (30M near-unique groups
    give collect_set no map-side combine), candidate-only supports
    via broadcast semi-join 17.3s (the broadcast BUILD side replays
    the whole pair pipeline — materializing it does not carry
    across the BroadcastExchange boundary), this exchange-reuse
    shape 10.4s.

    Output: part_a < part_b, pair_orders, orders_a, orders_b,
    support, conf_a_to_b, conf_b_to_a, lift (round 6).
    """
    l = t["lineitem"].select("l_orderkey", "l_partkey").distinct()
    a = l.alias("a")
    b = l.alias("b")
    pairs = (
        a.join(b, "l_orderkey")
        .where(F.col("a.l_partkey") < F.col("b.l_partkey"))
        .groupBy(
            F.col("a.l_partkey").alias("part_a"),
            F.col("b.l_partkey").alias("part_b"),
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("pair_orders"))
    )
    topk = pairs.orderBy(
        F.desc("pair_orders"), F.asc("part_a"), F.asc("part_b")
    ).limit(top)
    topk = materialize(topk)  # 20 rows; feeds both joins
    item = l.groupBy("l_partkey").agg(
        F.count(F.lit(1)).cast("bigint").alias("_ci")
    )
    n_orders = l.agg(
        F.count_distinct("l_orderkey").cast("bigint").alias("_n")
    )
    ca = item.select(
        F.col("l_partkey").alias("part_a"), F.col("_ci").alias("orders_a")
    )
    cb = item.select(
        F.col("l_partkey").alias("part_b"), F.col("_ci").alias("orders_b")
    )
    return (
        topk.join(ca, "part_a")
        .join(cb, "part_b")
        .crossJoin(F.broadcast(n_orders))
        .select(
            "part_a",
            "part_b",
            "pair_orders",
            "orders_a",
            "orders_b",
            F.round(
                F.col("pair_orders").cast("double") / F.col("_n").cast("double"),
                6,
            ).alias("support"),
            F.round(
                F.col("pair_orders").cast("double")
                / F.col("orders_a").cast("double"),
                6,
            ).alias("conf_a_to_b"),
            F.round(
                F.col("pair_orders").cast("double")
                / F.col("orders_b").cast("double"),
                6,
            ).alias("conf_b_to_a"),
            F.round(
                F.col("pair_orders").cast("double") * F.col("_n").cast("double")
                / (
                    F.col("orders_a").cast("double")
                    * F.col("orders_b").cast("double")
                ),
                6,
            ).alias("lift"),
        )
        .orderBy(F.desc("pair_orders"), "part_a", "part_b")
    )


def events_crosscorr(
    t: dict[str, DataFrame],
    lead_type: str = "view",
    lag_type: str = "purchase",
    max_lag: int = 3,
) -> DataFrame:
    """Lead–lag cross-correlation between two event types' daily
    counts at calendar lags −``max_lag``..+``max_lag``: does today's
    ``lead_type`` volume predict ``lag_type`` volume k days later
    (positive lags), or the reverse?  The funnel-latency diagnostic
    that picks attribution windows and forecast features; the
    two-series sibling of :func:`events_daily_acf`.

    One fact pass to a (day × type) grid; each series mean-centers
    against a broadcast 1-row stats frame; every lag is a broadcast
    self-join of the day-grid on d+k (calendar lag — missing days
    yield no pair, stated).  CCF normalizes by the full-series
    √(Σdx²·Σdy²) (the standard estimator, so |ccf| can exceed 1 only
    on degenerate short overlaps).  Products round-6 then sum as
    exact DECIMAL.

    Output: lag, n_pairs, ccf (round 6), ordered by lag.
    """
    e = t["events"]
    daily = (
        e.where(F.col("event_type").isin(lead_type, lag_type))
        .groupBy(F.to_date("ts").alias("d"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    dx = daily.where(F.col("event_type") == lead_type).select(
        "d", F.col("n").alias("_nx")
    )
    dy = daily.where(F.col("event_type") == lag_type).select(
        "d", F.col("n").alias("_ny")
    )
    sx = dx.agg(
        (F.sum("_nx").cast("double") / F.count(F.lit(1))).alias("_mx")
    )
    sy = dy.agg(
        (F.sum("_ny").cast("double") / F.count(F.lit(1))).alias("_my")
    )
    cx = materialize(
        dx.crossJoin(F.broadcast(sx)).select(
            "d", (F.col("_nx").cast("double") - F.col("_mx")).alias("_dx")
        )
    )
    cy = materialize(
        dy.crossJoin(F.broadcast(sy)).select(
            "d", (F.col("_ny").cast("double") - F.col("_my")).alias("_dy")
        )
    )
    vx = cx.select(
        F.round(F.col("_dx") * F.col("_dx"), 6).cast("decimal(27,6)").alias("_t")
    ).agg(F.sum("_t").cast("double").alias("_vx"))
    vy = cy.select(
        F.round(F.col("_dy") * F.col("_dy"), 6).cast("decimal(27,6)").alias("_t")
    ).agg(F.sum("_t").cast("double").alias("_vy"))
    lags = cx.sparkSession.range(-int(max_lag), int(max_lag) + 1).select(
        F.col("id").cast("int").alias("lag")
    )
    pairs = (
        cx.crossJoin(F.broadcast(lags))
        .select("lag", F.date_add("d", F.col("lag")).alias("d"), "_dx")
        .join(cy, "d")
    )
    num = pairs.groupBy("lag").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
        F.sum(
            F.round(F.col("_dx") * F.col("_dy"), 6).cast("decimal(27,6)")
        ).cast("double").alias("_num"),
    )
    return (
        num.crossJoin(F.broadcast(vx))
        .crossJoin(F.broadcast(vy))
        .select(
            "lag",
            "n_pairs",
            (
                F.round(
                    F.col("_num") / F.sqrt(F.col("_vx") * F.col("_vy")), 6
                )
                + F.lit(0.0)
            ).alias("ccf"),
        )
        .orderBy("lag")
    )


def events_pettitt(t: dict[str, DataFrame]) -> DataFrame:
    """Pettitt changepoint test (Pettitt 1979) on the daily
    event-count series: the rank-based, distribution-free "did the
    level shift, and when" test — U_t = Σ_{i≤t} Σ_{j>t} sgn(x_i−x_j),
    K = max|U_t|, with the classic approximation
    p ≈ 2·exp(−6K²/(n³+n²)) (stated approximation).  The
    single-changepoint complement to the CUSUM scan.

    The quadratic double sum collapses to ranks: with midranks R_i
    (ties averaged), U_t = Σ_{i≤t}(2R_i − 1 − n) — and 2R_i is the
    INTEGER 2·rank + ties − 1, so U_t is an exact-integer running
    sum over the day grid.  Everything is day-grid-sized (two
    windows: one over value for midranks, one over day for the
    cumsum); the argmax tie-breaks to the earliest day (stated).

    Output: one row — n_days, k_stat, change_day (STRING, the last
    day of the pre-change segment), p_approx (round 6).
    """
    from pyspark.sql import Window as W

    e = t["events"]
    daily = e.groupBy(F.to_date("ts").alias("d")).agg(
        F.count(F.lit(1)).alias("n")
    )
    vw = W.orderBy("n")
    tw = W.partitionBy("n")
    m2 = (
        F.lit(2) * F.rank().over(vw)
        + F.count(F.lit(1)).over(tw)
        - F.lit(1)
    ).cast("bigint")
    ranked = daily.select("d", m2.alias("_m2"))
    nrel = ranked.agg(F.count(F.lit(1)).cast("bigint").alias("_n"))
    dw = W.orderBy("d").rowsBetween(W.unboundedPreceding, 0)
    u = (
        ranked.crossJoin(F.broadcast(nrel))
        .select(
            "d",
            "_n",
            (
                F.sum("_m2").over(dw)
                - F.row_number().over(W.orderBy("d")).cast("bigint")
                * (F.col("_n") + 1)
            ).alias("_u"),
            F.row_number().over(W.orderBy("d")).alias("_t"),
        )
        .where(F.col("_t") < F.col("_n"))  # U_n == 0 by construction
    )
    best = u.orderBy(F.abs("_u").desc(), F.asc("d")).limit(1)
    nn = F.col("_n").cast("double")
    return best.select(
        F.col("_n").alias("n_days"),
        F.abs("_u").alias("k_stat"),
        F.col("d").cast("string").alias("change_day"),
        F.round(
            F.least(
                F.lit(1.0),
                F.lit(2.0)
                * F.exp(
                    F.lit(-6.0)
                    * F.col("_u").cast("double")
                    * F.col("_u").cast("double")
                    / (nn * nn * nn + nn * nn)
                ),
            ),
            6,
        ).alias("p_approx"),
    )


def events_hurst(
    t: dict[str, DataFrame], windows: tuple[int, ...] = (5, 10, 15)
) -> DataFrame:
    """Hurst exponent by rescaled-range (R/S) analysis of the daily
    event-count series (Hurst 1951; Mandelbrot & Wallis 1969): slope
    of log(avg R/S) on log(window) — H ≈ 0.5 memoryless, H > 0.5
    persistent/trending, H < 0.5 mean-reverting.  The long-range-
    dependence screen that says whether daily volume is forecastable
    beyond short ACF lags.

    Day-grid-sized throughout: day index from one day-ordered
    window, each window size w explodes its floor(n/w) COMPLETE
    blocks (remainder days dropped, stated), per-block mean/R/S from
    a (w,block)-PARTITIONED cumulative window (sequential order ⇒
    engine-identical doubles), round-9 DECIMAL sums for the
    unordered aggregates, and the 3-point log-log OLS in exact
    closed form.  Zero-variance blocks drop (R/S undefined, stated).

    Output: one row per window — w, n_blocks, avg_rs, hurst
    (round 6; hurst repeated on each row), ordered by w.
    """
    from pyspark.sql import Window as W

    e = t["events"]
    daily = e.groupBy(F.to_date("ts").alias("d")).agg(
        F.count(F.lit(1)).alias("n")
    )
    idx = daily.select(
        (F.row_number().over(W.orderBy("d")) - 1).alias("_i"),
        F.col("n").cast("double").alias("_x"),
    )
    ws = idx.sparkSession.createDataFrame(
        [(int(w),) for w in windows], ["w"]
    )
    blocks = (
        idx.crossJoin(F.broadcast(ws))
        .withColumn("_b", F.floor(F.col("_i") / F.col("w")).cast("bigint"))
        .withColumn("_nb", F.count(F.lit(1)).over(W.partitionBy("w", "_b")))
        .where(F.col("_nb") == F.col("w"))  # complete blocks only
    )
    mu = blocks.groupBy("w", "_b").agg(
        (
            F.sum(F.col("_x").cast("decimal(27,6)")).cast("double")
            / F.col("w").cast("double")
        ).alias("_mu"),
    )
    dev = blocks.join(F.broadcast(mu), ["w", "_b"]).select(
        "w", "_b", "_i", (F.col("_x") - F.col("_mu")).alias("_dev")
    )
    cw = (
        W.partitionBy("w", "_b")
        .orderBy("_i")
        .rowsBetween(W.unboundedPreceding, 0)
    )
    cum = dev.select(
        "w", "_b", "_dev", F.sum("_dev").over(cw).alias("_c")
    )
    rs = cum.groupBy("w", "_b").agg(
        (F.max("_c") - F.min("_c")).alias("_r"),
        F.sqrt(
            F.sum(
                F.round(F.col("_dev") * F.col("_dev"), 9).cast(
                    "decimal(27,18)"
                )
            ).cast("double")
            / F.first("w").cast("double")
        ).alias("_s"),
    )
    per_w = (
        rs.where(F.col("_s") > 0)
        .select(
            "w",
            F.round(F.col("_r") / F.col("_s"), 9)
            .cast("decimal(27,18)")
            .alias("_rs"),
        )
        .groupBy("w")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_blocks"),
            (F.sum("_rs").cast("double") / F.count(F.lit(1))).alias("_ars"),
        )
    )
    pts = materialize(
        per_w.select(
            "w",
            "n_blocks",
            "_ars",
            F.log(F.col("w").cast("double")).alias("_lx"),
            F.log("_ars").alias("_ly"),
        )
    )
    fit = pts.agg(
        F.count(F.lit(1)).cast("double").alias("_k"),
        F.sum(F.round("_lx", 9).cast("decimal(27,18)")).cast("double").alias("_sx"),
        F.sum(F.round("_ly", 9).cast("decimal(27,18)")).cast("double").alias("_sy"),
        F.sum(
            F.round(F.col("_lx") * F.col("_ly"), 9).cast("decimal(27,18)")
        ).cast("double").alias("_sxy"),
        F.sum(
            F.round(F.col("_lx") * F.col("_lx"), 9).cast("decimal(27,18)")
        ).cast("double").alias("_sxx"),
    )
    hurst = (
        (F.col("_k") * F.col("_sxy") - F.col("_sx") * F.col("_sy"))
        / (F.col("_k") * F.col("_sxx") - F.col("_sx") * F.col("_sx"))
    )
    return (
        pts.crossJoin(F.broadcast(fit))
        .select(
            "w",
            "n_blocks",
            F.round("_ars", 6).alias("avg_rs"),
            (F.round(hurst, 6) + F.lit(0.0)).alias("hurst"),
        )
        .orderBy("w")
    )


def customer_theil_decomposition(t: dict[str, DataFrame]) -> DataFrame:
    """Theil T decomposition of customer-LTV inequality by nation:
    T_total = T_between + T_within, with T_between = Σ_g s_g·ln(μ_g/μ)
    (s_g = group income share) and T_within = Σ_g s_g·T_g — the
    property Gini lacks and the reason Theil is the market-analysis
    tool: it answers "is revenue inequality a cross-market story or
    an in-market story" in one exact split.  Completes the
    inequality suite ([[customer_theil_index]] global T,
    [[customer_gini_by_nation]] per-market Gini).

    One LTV rollup (customers with ≥1 order, same base as the global
    index, stated), one broadcast slim-dim join for the nation key,
    nation moments are aggregate-sized and broadcast back for the
    within terms; every unordered sum is round-9 DECIMAL; x=0
    contributes 0 (limit convention).  between + within ≈ total only
    up to the stated 6-dp rounding (each computed independently).

    Output: one row — n_customers, n_groups, theil_total,
    theil_between, theil_within (round 6).
    """
    o, c = t["orders"], t["customer"]
    ltv = o.groupBy("o_custkey").agg(
        F.sum(F.col("o_totalprice").cast(DEC)).alias("_x")
    )
    base = ltv.join(
        broadcast(c.select("c_custkey", "c_nationkey")),
        ltv.o_custkey == F.col("c_custkey"),
    ).select("c_nationkey", "_x")
    grp = base.groupBy("c_nationkey").agg(
        F.count(F.lit(1)).cast("bigint").alias("_ng"),
        F.sum("_x").alias("_sg"),
    )
    glob = grp.agg(
        F.sum("_ng").cast("bigint").alias("_n"),
        F.sum("_sg").alias("_s"),
    )
    gm = grp.crossJoin(F.broadcast(glob)).select(
        "c_nationkey",
        "_ng",
        "_n",
        (F.col("_sg").cast("double") / F.col("_ng").cast("double")).alias(
            "_mug"
        ),
        (F.col("_s").cast("double") / F.col("_n").cast("double")).alias(
            "_mu"
        ),
        (F.col("_sg").cast("double") / F.col("_s").cast("double")).alias(
            "_shg"
        ),
    )
    gm = materialize(gm)  # between terms + within join
    between = gm.agg(
        F.max("_n").alias("n_customers"),
        F.count(F.lit(1)).cast("bigint").alias("n_groups"),
        F.sum(
            F.round(F.col("_shg") * F.log(F.col("_mug") / F.col("_mu")), 9)
            .cast("decimal(27,18)")
        ).cast("double").alias("_tb"),
    )
    wt = base.join(
        F.broadcast(gm.select("c_nationkey", "_ng", "_mug", "_shg")),
        "c_nationkey",
    ).select(
        "c_nationkey",
        "_ng",
        "_shg",
        F.when(
            F.col("_x") > 0,
            F.round(
                (F.col("_x").cast("double") / F.col("_mug"))
                * F.log(F.col("_x").cast("double") / F.col("_mug")),
                9,
            ),
        )
        .otherwise(F.lit(0.0))
        .cast("decimal(27,18)")
        .alias("_t"),
    )
    within = (
        wt.groupBy("c_nationkey", "_ng", "_shg")
        .agg(F.sum("_t").cast("double").alias("_tg"))
        .select(
            F.round(
                F.col("_shg") * (F.col("_tg") / F.col("_ng").cast("double")),
                9,
            )
            .cast("decimal(27,18)")
            .alias("_w")
        )
        .agg(F.sum("_w").cast("double").alias("_tw"))
    )
    total = base.crossJoin(
        F.broadcast(glob.select((F.col("_s").cast("double") / F.col("_n").cast("double")).alias("_mu")))
    ).select(
        F.when(
            F.col("_x") > 0,
            F.round(
                (F.col("_x").cast("double") / F.col("_mu"))
                * F.log(F.col("_x").cast("double") / F.col("_mu")),
                9,
            ),
        )
        .otherwise(F.lit(0.0))
        .cast("decimal(27,18)")
        .alias("_t"),
    ).agg(
        (F.sum("_t").cast("double") / F.count(F.lit(1))).alias("_tt")
    )
    return (
        between.crossJoin(F.broadcast(within))
        .crossJoin(F.broadcast(total))
        .select(
            "n_customers",
            "n_groups",
            F.round("_tt", 6).alias("theil_total"),
            (F.round("_tb", 6) + F.lit(0.0)).alias("theil_between"),
            F.round("_tw", 6).alias("theil_within"),
        )
    )


def events_mann_whitney(
    t: dict[str, DataFrame],
    type_a: str = "purchase",
    type_b: str = "click",
    quantize: int = 4,
) -> DataFrame:
    """Two-sample Mann–Whitney U (Wilcoxon rank-sum) test between two
    event types' value distributions — the median-shift complement to
    [[events_ks_test]] (KS sees any shape difference; MW targets
    stochastic dominance, the "are purchases systematically larger"
    question).  Normal approximation with the FULL tie correction —
    mandatory here because quantization creates ties by design.

    Values quantize to ``quantize`` decimals (bounded grid, stated —
    the suite's standard rank-free scale move): per-value group
    counts, midranks from a grid-sized cumulative window in exact ×2
    integers (M2 = 2·cum_before + t + 1), the rank sum as an exact
    DECIMAL Σ n_a(v)·M2(v), and the tie term Σ(t³−t) likewise
    DECIMAL — every double is a final arithmetic chain.  No p-value
    column: z is the deliverable (the erf-free engines would need a
    stated approximation poorer than the z itself).

    Output: one row — n_a, n_b, u_stat, z (round 6; z > 0 ⇒ type_a
    stochastically larger).
    """
    from pyspark.sql import Window as W

    e = t["events"]
    g = (
        e.where(F.col("event_type").isin(type_a, type_b))
        .select(
            F.round(F.col("value").cast("double"), int(quantize)).alias("v"),
            (F.col("event_type") == type_a).cast("int").alias("_a"),
        )
        .groupBy("v")
        .agg(
            F.sum("_a").cast("bigint").alias("_na"),
            (F.count(F.lit(1)) - F.sum("_a")).cast("bigint").alias("_nb"),
        )
    )
    w = W.orderBy("v").rowsBetween(W.unboundedPreceding, -1)
    m = g.select(
        "_na",
        "_nb",
        (F.col("_na") + F.col("_nb")).alias("_t"),
        (
            F.lit(2) * F.coalesce(
                F.sum(F.col("_na") + F.col("_nb")).over(w), F.lit(0)
            )
            + (F.col("_na") + F.col("_nb"))
            + F.lit(1)
        ).cast("bigint").alias("_m2"),
    )
    agg = m.agg(
        F.sum("_na").cast("bigint").alias("n_a"),
        F.sum("_nb").cast("bigint").alias("n_b"),
        F.sum(
            (F.col("_na") * F.col("_m2")).cast("decimal(38,0)")
        ).alias("_r2a"),
        F.sum(
            (
                F.col("_t") * F.col("_t") * F.col("_t") - F.col("_t")
            ).cast("decimal(38,0)")
        ).alias("_ties"),
    )
    na = F.col("n_a").cast("double")
    nb = F.col("n_b").cast("double")
    n = na + nb
    u = F.col("_r2a").cast("double") / F.lit(2.0) - na * (na + 1) / 2
    var = (
        na * nb / F.lit(12.0)
        * ((n + 1) - F.col("_ties").cast("double") / (n * (n - 1)))
    )
    z = (u - na * nb / 2) / F.sqrt(var)
    return agg.select(
        "n_a",
        "n_b",
        F.round(u, 6).alias("u_stat"),
        (F.round(z, 6) + F.lit(0.0)).alias("z"),
    )


def events_logistic_fixed(
    t: dict[str, DataFrame],
    iterations: int = 3,
    lr: float = 1.0,
) -> DataFrame:
    """Oracle-checked FIXED-ITERATION logistic regression: P(purchase
    | value, hour) by ``iterations`` unrolled batch-gradient-descent
    steps from w = 0 — the recall-certificate pattern
    ([[graph_pagerank_fixed]], [[embedding_kmeans_fixed]]) applied to
    a supervised model: the cross-engine-exact twin that pins the
    GD mechanics while MLlib fits (ml.py) keep full convergence.

    Features are FIXED deterministic scalings (value/100, hour/23 —
    no data-dependent standardization, so no extra moment passes).
    Each step is one corpus pass: sigmoid margins against the
    broadcast 1-row weight frame, per-row gradient terms round-9 →
    DECIMAL sums, weights round-9 after each update so iteration
    k+1's inputs are bit-identical on any engine/parallelism.  The
    labeled frame is materialized once (every pass reads it).  Final pass scores train
    log-loss (ε-clamped, stated).

    Output: one row — n, w0, w1, w2, logloss (round 6).
    """
    e = t["events"]
    lab = e.where(F.col("event_type").isin("purchase", "view")).select(
        (F.col("event_type") == "purchase").cast("int").alias("_y"),
        (F.col("value").cast("double") / F.lit(100.0)).alias("_x1"),
        (F.hour("ts").cast("double") / F.lit(23.0)).alias("_x2"),
    )
    lab = materialize(lab)  # one pass per iteration
    spark = e.sparkSession
    w = spark.createDataFrame([(0.0, 0.0, 0.0)], ["_w0", "_w1", "_w2"])
    for _ in range(int(iterations)):
        z = F.col("_w0") + F.col("_w1") * F.col("_x1") + F.col("_w2") * F.col("_x2")
        p = F.lit(1.0) / (F.lit(1.0) + F.exp(-z))
        terms = lab.crossJoin(F.broadcast(w)).select(
            "_w0",
            "_w1",
            "_w2",
            F.round((p - F.col("_y")), 9).cast("decimal(27,18)").alias("_g0"),
            F.round((p - F.col("_y")) * F.col("_x1"), 9)
            .cast("decimal(27,18)")
            .alias("_g1"),
            F.round((p - F.col("_y")) * F.col("_x2"), 9)
            .cast("decimal(27,18)")
            .alias("_g2"),
        )
        g = terms.groupBy("_w0", "_w1", "_w2").agg(
            F.count(F.lit(1)).alias("_n"),
            F.sum("_g0").cast("double").alias("_s0"),
            F.sum("_g1").cast("double").alias("_s1"),
            F.sum("_g2").cast("double").alias("_s2"),
        )
        w = g.select(
            F.round(
                F.col("_w0") - F.lit(float(lr)) * F.col("_s0") / F.col("_n"),
                9,
            ).alias("_w0"),
            F.round(
                F.col("_w1") - F.lit(float(lr)) * F.col("_s1") / F.col("_n"),
                9,
            ).alias("_w1"),
            F.round(
                F.col("_w2") - F.lit(float(lr)) * F.col("_s2") / F.col("_n"),
                9,
            ).alias("_w2"),
        )
    zf = F.col("_w0") + F.col("_w1") * F.col("_x1") + F.col("_w2") * F.col("_x2")
    pf = F.lit(1.0) / (F.lit(1.0) + F.exp(-zf))
    pc = F.least(F.greatest(pf, F.lit(1e-12)), F.lit(1.0) - F.lit(1e-12))
    ll = lab.crossJoin(F.broadcast(w)).select(
        "_w0",
        "_w1",
        "_w2",
        F.round(
            -(
                F.col("_y").cast("double") * F.log(pc)
                + (F.lit(1.0) - F.col("_y").cast("double"))
                * F.log(F.lit(1.0) - pc)
            ),
            9,
        )
        .cast("decimal(27,18)")
        .alias("_l"),
    )
    return ll.groupBy("_w0", "_w1", "_w2").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.round(F.sum("_l").cast("double") / F.count(F.lit(1)), 6).alias(
            "logloss"
        ),
    ).select(
        "n",
        F.round("_w0", 6).alias("w0"),
        F.round("_w1", 6).alias("w1"),
        F.round("_w2", 6).alias("w2"),
        "logloss",
    )


def supplier_wilson_reliability(
    t: dict[str, DataFrame],
    on_time_days: int = 30,
    z: float = 1.959964,
    top: int = 50,
) -> DataFrame:
    """Supplier reliability ranked by the Wilson score lower bound of
    the on-time-shipment rate (shipped within ``on_time_days`` of the
    order date): the ranking-under-uncertainty fix for naive rate
    sorting, where a 3/3 supplier outranks a 9700/10000 one — the
    same statistic behind "sort by rating" done right.

    One fact⋈fact join on orderkey (the suite's standard shipping
    join), one supplier-grain rollup of exact integer counts; the
    Wilson bound is a single double chain per supplier row, top-k by
    (bound desc, suppkey) via TakeOrdered.  No receipt/commit dates
    in this schema, so on-time is order→ship latency (stated).

    Output: top-k rows — s_suppkey, n_shipments, on_time, rate,
    wilson_low (round 6).
    """
    l, o = t["lineitem"], t["orders"]
    j = l.select("l_orderkey", "l_suppkey", "l_shipdate").join(
        o.select("o_orderkey", "o_orderdate"),
        l.l_orderkey == F.col("o_orderkey"),
    )
    per = j.groupBy("l_suppkey").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_shipments"),
        F.sum(
            (
                F.datediff(F.to_date("l_shipdate"), F.to_date("o_orderdate"))
                <= F.lit(int(on_time_days))
            ).cast("int")
        ).cast("bigint").alias("on_time"),
    )
    nn = F.col("n_shipments").cast("double")
    ph = F.col("on_time").cast("double") / nn
    z2 = F.lit(float(z) * float(z))
    low = (
        ph
        + z2 / (F.lit(2.0) * nn)
        - F.lit(float(z))
        * F.sqrt(
            ph * (F.lit(1.0) - ph) / nn
            + z2 / (F.lit(4.0) * nn * nn)
        )
    ) / (F.lit(1.0) + z2 / nn)
    scored = per.select(
        F.col("l_suppkey").alias("s_suppkey"),
        "n_shipments",
        "on_time",
        F.round(ph, 6).alias("rate"),
        F.round(low, 6).alias("wilson_low"),
    )
    return scored.orderBy(F.desc("wilson_low"), "s_suppkey").limit(int(top))


def part_price_index(t: dict[str, DataFrame]) -> DataFrame:
    """Monthly price-index triple over the part basket: Laspeyres
    (base-quantity weights), Paasche (current-quantity weights) and
    Fisher (their geometric mean) — the standard inflation readout,
    here "is revenue growth volume or price" per month.  Matched
    basket: only parts traded in BOTH the base month (the first month
    with data) and month t contribute (stated — the index is
    undefined for entering/exiting parts).

    One part×month rollup of exact DECIMAL quantity/value sums; the
    base month comes from a 1-row map-side min over the scan, and the
    base slice re-aggregates a FILTERED second scan (parts-in-base-
    month rows only) instead of checkpointing the 33M-row part×month
    frame — scale-found: the checkpoint-and-reuse draft measured
    56.5s at 20× sf0.1 (the materialization write dominates) vs
    4.9s for scan-twice; each month then joins the broadcast base
    slice on partkey; value-weighted unit prices divide once, the
    p·q cross terms round-9 → DECIMAL sums.  Output: month (STRING,
    the cross-engine-safe date form), n_parts, laspeyres, paasche,
    fisher (round 6), by month.
    """
    l = t["lineitem"]
    month_expr = F.date_format(F.to_date("l_shipdate"), "yyyy-MM")
    pm = l.groupBy(
        month_expr.alias("month"),
        "l_partkey",
    ).agg(
        F.sum(F.col("l_quantity").cast(DEC)).alias("_q"),
        F.sum(F.col("l_extendedprice").cast(DEC)).alias("_v"),
    )
    base_m = l.agg(F.min(month_expr).alias("_bm"))
    base = (
        l.crossJoin(F.broadcast(base_m))
        .where(month_expr == F.col("_bm"))
        .groupBy("l_partkey")
        .agg(
            F.sum(F.col("l_quantity").cast(DEC)).alias("_q0"),
            F.sum(F.col("l_extendedprice").cast(DEC)).alias("_v0"),
        )
        .select(
            "l_partkey",
            "_q0",
            (F.col("_v0").cast("double") / F.col("_q0").cast("double")).alias(
                "_p0"
            ),
        )
    )
    j = pm.join(F.broadcast(base), "l_partkey").select(
        "month",
        (F.col("_v").cast("double") / F.col("_q").cast("double")).alias("_pt"),
        F.col("_q").cast("double").alias("_qt"),
        F.col("_q0").cast("double").alias("_q0"),
        "_p0",
    )
    agg = j.groupBy("month").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_parts"),
        F.sum(
            F.round(F.col("_pt") * F.col("_q0"), 9).cast("decimal(38,9)")
        ).cast("double").alias("_l_num"),
        F.sum(
            F.round(F.col("_p0") * F.col("_q0"), 9).cast("decimal(38,9)")
        ).cast("double").alias("_l_den"),
        F.sum(
            F.round(F.col("_pt") * F.col("_qt"), 9).cast("decimal(38,9)")
        ).cast("double").alias("_p_num"),
        F.sum(
            F.round(F.col("_p0") * F.col("_qt"), 9).cast("decimal(38,9)")
        ).cast("double").alias("_p_den"),
    )
    lasp = F.col("_l_num") / F.col("_l_den")
    paas = F.col("_p_num") / F.col("_p_den")
    return agg.select(
        "month",
        "n_parts",
        F.round(lasp, 6).alias("laspeyres"),
        F.round(paas, 6).alias("paasche"),
        F.round(F.sqrt(lasp * paas), 6).alias("fisher"),
    ).orderBy("month")


def events_ab_fdr(t: dict[str, DataFrame], salt: str = "exp1") -> DataFrame:
    """Per-event-type A/B effect screen with Benjamini–Hochberg FDR
    control: the same deterministic md5 arm split as
    [[events_ab_test]], a two-sample z on mean event value per type,
    then the BH step-up adjustment across the type family — the
    multiple-testing discipline a per-metric experiment dashboard
    needs (5 metrics at α=0.05 ⇒ ~23% family-wise false-positive
    rate uncorrected).

    One fact pass to (type, arm) DECIMAL(38,4) raw moments; z from
    the Welch expression; p via the LOGISTIC approximation to the
    normal CDF Φ(x) ≈ 1/(1+exp(−1.702x)) (stated, max abs error
    ≈ 0.0095 — the engines have no erf); BH over the ≤|types| rows
    with two tiny windows (rank by p, running min of p·m/rank from
    the tail).  Output: event_type, n_a, n_b, mean_diff, z,
    p_approx, p_adj (round 6), by type.
    """
    from pyspark.sql import Window as W

    e = t["events"]
    arm = F.when(
        F.conv(
            F.substring(
                F.md5(
                    F.concat_ws(
                        "-", F.lit(salt), F.col("user_id").cast("string")
                    )
                ),
                1,
                6,
            ),
            16,
            10,
        ).cast("bigint")
        % 2
        == 0,
        "A",
    ).otherwise("B")
    D4 = "decimal(38,4)"
    m = (
        e.withColumn("_arm", arm)
        .groupBy("event_type", "_arm")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("_n"),
            F.sum(F.round(F.col("value").cast("double"), 4).cast(D4))
            .cast("double")
            .alias("_s"),
            F.sum(
                F.round(
                    F.col("value").cast("double") * F.col("value").cast("double"),
                    4,
                ).cast(D4)
            )
            .cast("double")
            .alias("_ss"),
        )
    )
    a = m.where(F.col("_arm") == "A").select(
        "event_type",
        F.col("_n").alias("n_a"),
        (F.col("_s") / F.col("_n")).alias("_ma"),
        (
            (F.col("_ss") / F.col("_n"))
            - (F.col("_s") / F.col("_n")) * (F.col("_s") / F.col("_n"))
        ).alias("_va"),
    )
    b = m.where(F.col("_arm") == "B").select(
        "event_type",
        F.col("_n").alias("n_b"),
        (F.col("_s") / F.col("_n")).alias("_mb"),
        (
            (F.col("_ss") / F.col("_n"))
            - (F.col("_s") / F.col("_n")) * (F.col("_s") / F.col("_n"))
        ).alias("_vb"),
    )
    # 1e-18 variance floor (the burrows_delta/pearson guard family):
    # a degenerate zero-variance arm with a real mean gap reads as a
    # huge z, not a silent 0; identical means still give z = 0
    z = (F.col("_ma") - F.col("_mb")) / F.sqrt(
        F.greatest(
            F.col("_va") / F.col("n_a").cast("double")
            + F.col("_vb") / F.col("n_b").cast("double"),
            F.lit(1e-18),
        )
    )
    scored = a.join(b, "event_type").select(
        "event_type",
        "n_a",
        "n_b",
        (F.col("_ma") - F.col("_mb")).alias("_diff"),
        z.alias("_z"),
        (
            F.lit(2.0)
            * (
                F.lit(1.0)
                - F.lit(1.0)
                / (F.lit(1.0) + F.exp(F.lit(-1.702) * F.abs(z)))
            )
        ).alias("_p"),
    )
    mrel = scored.agg(F.count(F.lit(1)).cast("double").alias("_m"))
    rw = W.orderBy(F.col("_p").asc(), F.col("event_type").asc())
    tail = W.orderBy(F.col("_p").asc(), F.col("event_type").asc()).rowsBetween(
        W.currentRow, W.unboundedFollowing
    )
    adj = (
        scored.crossJoin(F.broadcast(mrel))
        .withColumn("_rk", F.row_number().over(rw).cast("double"))
        .withColumn(
            "_padj",
            F.least(
                F.lit(1.0),
                F.min(F.col("_p") * F.col("_m") / F.col("_rk")).over(tail),
            ),
        )
    )
    return adj.select(
        "event_type",
        "n_a",
        "n_b",
        F.round("_diff", 6).alias("mean_diff"),
        (F.round("_z", 6) + F.lit(0.0)).alias("z"),
        F.round("_p", 6).alias("p_approx"),
        F.round("_padj", 6).alias("p_adj"),
    ).orderBy("event_type")


def events_seasonality_strength(
    t: dict[str, DataFrame], trend_window: int = 7
) -> DataFrame:
    """Hyndman's seasonality/trend STRENGTH measures over the daily
    revenue decomposition: F_s = max(0, 1 − var(R)/var(S+R)) and
    F_t = max(0, 1 − var(R)/var(T+R)) (Wang–Smith–Hyndman 2006) —
    the one-row answer to "is this series weekday-driven, trending,
    or noise", i.e. whether the forecast family needs seasonal terms
    at all.  The scalar companion to [[events_decompose]], computed
    FROM the same components so the two queries can never disagree.

    One day-grid decomposition (bounded joins/rollups, see
    events_decompose) then a single variance aggregate: round-9
    DECIMAL sums of squares/sums, variances as exact-count divisions,
    strengths clamped at 0 (stated — sampling noise can push the
    ratio past 1).  Output: one row — n_days, var_resid,
    strength_seasonal, strength_trend (round 6).
    """
    comp = events_decompose(t, trend_window=trend_window)

    def _var(col):
        s = F.sum(F.round(col, 9).cast("decimal(38,9)")).cast("double")
        ss = F.sum(
            F.round(col * col, 9).cast("decimal(38,9)")
        ).cast("double")
        n = F.count(F.lit(1)).cast("double")
        return (ss / n) - (s / n) * (s / n)

    r = F.col("residual")
    agg = comp.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_days"),
        _var(r).alias("_vr"),
        _var(F.col("seasonal") + r).alias("_vsr"),
        _var(F.col("trend") + r).alias("_vtr"),
    )
    fs = F.greatest(F.lit(0.0), F.lit(1.0) - F.col("_vr") / F.col("_vsr"))
    ft = F.greatest(F.lit(0.0), F.lit(1.0) - F.col("_vr") / F.col("_vtr"))
    return agg.select(
        "n_days",
        F.round("_vr", 6).alias("var_resid"),
        F.round(fs, 6).alias("strength_seasonal"),
        F.round(ft, 6).alias("strength_trend"),
    )


def events_pacf(t: dict[str, DataFrame]) -> DataFrame:
    """Partial autocorrelation of the daily event-count series at
    lags 1–3 via the Durbin–Levinson closed forms: φ11 = r1,
    φ22 = (r2−r1²)/(1−r1²), φ33 from the level-2 recursion — the
    AR-order selector that the raw ACF can't provide (an AR(1)
    process has geometric ACF at every lag but PACF that CUTS OFF
    after lag 1).  Completes the Box–Jenkins pair with
    [[events_daily_acf]].

    The ACF machinery is the proven calendar-lag shape (broadcast
    date-shift self-joins, round-6 DECIMAL sums); the recursion is a
    row-local double chain over the 3-row ACF frame pivoted to one
    row by conditional aggregation.  Degenerate denominators floor
    at 1e-18 (white-noise r1≈±1 can't occur; the guard is for
    constant series, stated).  Output: one row — r1, r2, r3, pacf1,
    pacf2, pacf3 (round 6).
    """
    acf = events_daily_acf(t, max_lag=3)
    piv = acf.agg(
        F.max(F.when(F.col("lag") == 1, F.col("acf"))).alias("_r1"),
        F.max(F.when(F.col("lag") == 2, F.col("acf"))).alias("_r2"),
        F.max(F.when(F.col("lag") == 3, F.col("acf"))).alias("_r3"),
    )
    r1, r2, r3 = F.col("_r1"), F.col("_r2"), F.col("_r3")
    eps = F.lit(1e-18)
    p22 = (r2 - r1 * r1) / _sgn_floor(F.lit(1.0) - r1 * r1, eps)
    p21 = r1 - p22 * r1
    p33 = (r3 - p21 * r2 - p22 * r1) / _sgn_floor(
        F.lit(1.0) - p21 * r1 - p22 * r2, eps
    )
    return piv.select(
        F.col("_r1").alias("r1"),
        F.col("_r2").alias("r2"),
        F.col("_r3").alias("r3"),
        F.col("_r1").alias("pacf1"),
        (F.round(p22, 6) + F.lit(0.0)).alias("pacf2"),
        (F.round(p33, 6) + F.lit(0.0)).alias("pacf3"),
    )


def _sgn_floor(x, eps):
    """|x| floored at eps, sign preserved (denominator guard)."""
    return F.when(F.abs(x) < eps, F.when(x < 0, -eps).otherwise(eps)).otherwise(x)


def events_ljung_box(
    t: dict[str, DataFrame], max_lag: int = 7
) -> DataFrame:
    """Ljung–Box portmanteau test (Ljung & Box 1978) on the daily
    event-count series: Q_h = n(n+2)·Σ_{k=1..h} ρ_k²/(n−k),
    cumulative per lag h — the one-number "is there ANY
    autocorrelation up to lag h" screen that complements the per-lag
    ACF (events_daily_acf), whose ρ_k this reuses verbatim so the two
    reports can never disagree.

    Day-grid-sized end to end: the ACF frame is ≤max_lag rows and n
    is a 1-row broadcast; per-lag terms round to 9 dp and cumulate as
    exact DECIMAL over the lag-ordered window (integer arithmetic —
    summation-order-independent, hence engine-portable), scaled by
    n(n+2) only at the end.  ρ_k here is the calendar-lag ACF with
    its n_pairs semantics (missing days pair with nobody, stated).

    Output: lag, n_days, q_stat (round 6), ordered by lag.
    """
    from pyspark.sql import Window as W

    e = t["events"]
    nd = e.groupBy(F.to_date("ts").alias("d")).agg(
        F.count(F.lit(1)).alias("_n")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("n_days"))
    acf = events_daily_acf(t, max_lag=max_lag)
    terms = acf.crossJoin(F.broadcast(nd)).select(
        "lag",
        "n_days",
        F.round(
            F.col("acf") * F.col("acf")
            / (F.col("n_days").cast("double") - F.col("lag").cast("double")),
            9,
        ).cast("decimal(38,9)").alias("_term"),
    )
    w = W.orderBy("lag").rowsBetween(W.unboundedPreceding, W.currentRow)
    n = F.col("n_days").cast("double")
    return (
        terms.withColumn("_cum", F.sum("_term").over(w))
        .select(
            "lag",
            "n_days",
            (
                F.round(
                    n * (n + F.lit(2.0)) * F.col("_cum").cast("double"), 6
                )
                + F.lit(0.0)
            ).alias("q_stat"),
        )
        .orderBy("lag")
    )


def events_poisson_dispersion(t: dict[str, DataFrame]) -> DataFrame:
    """Poisson dispersion test of the daily event-count series: the
    variance-to-mean ratio (Fisher's index of dispersion) and its
    chi-square statistic Σ(nᵢ−n̄)²/n̄ — the standard screen for
    whether arrivals are Poisson-like (≈1), overdispersed/bursty
    (>1, the usual reality for user traffic) or underdispersed/
    regularized (<1).

    One scan to the day grid; squared deviations round to 6 dp and
    sum as exact DECIMAL (the ACF-denominator idiom), so the 1-row
    final is engine-portable.  Sample variance uses n−1.

    Output: one row — n_days, total_events, mean_daily, var_daily,
    dispersion_index, chi_square (floats round 6).
    """
    e = t["events"]
    daily = e.groupBy(F.to_date("ts").alias("d")).agg(
        F.count(F.lit(1)).alias("n")
    )
    stats = daily.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_days"),
        F.sum("n").cast("bigint").alias("total_events"),
    )
    mu = F.col("total_events").cast("double") / F.col("n_days").cast("double")
    d0 = daily.crossJoin(F.broadcast(stats.withColumn("_mu", mu)))
    agg = d0.agg(
        F.max("n_days").alias("n_days"),
        F.max("total_events").alias("total_events"),
        F.max("_mu").alias("_mu"),
        F.sum(
            F.round(
                (F.col("n").cast("double") - F.col("_mu"))
                * (F.col("n").cast("double") - F.col("_mu")),
                6,
            ).cast("decimal(27,6)")
        ).cast("double").alias("_ssq"),
    )
    var = F.col("_ssq") / (F.col("n_days").cast("double") - F.lit(1.0))
    return agg.select(
        "n_days",
        "total_events",
        (F.round(F.col("_mu"), 6) + F.lit(0.0)).alias("mean_daily"),
        (F.round(var, 6) + F.lit(0.0)).alias("var_daily"),
        (F.round(var / F.col("_mu"), 6) + F.lit(0.0)).alias(
            "dispersion_index"
        ),
        (F.round(F.col("_ssq") / F.col("_mu"), 6) + F.lit(0.0)).alias(
            "chi_square"
        ),
    )


def events_value_anova(t: dict[str, DataFrame]) -> DataFrame:
    """One-way ANOVA of event value across event types: F =
    (SSB/(k−1)) / (SSW/(N−k)) from per-group closed-form moments — the
    "do the type populations differ in mean value at all" omnibus
    complement to the pairwise Mann–Whitney / AB tests.

    Two aggregation levels, both exact: per-type Σv and Σv² accumulate
    as DECIMAL(27,6) over round-6 per-row terms (one map-side-combined
    shuffle on event_type, |types| rows out); the |types|-row frame
    then rolls to ONE row with the between/within sums again as
    round-6 DECIMAL terms, so no double ever sums in a
    parallelism-dependent order.  Σv² of round-6 squares is the
    portable variance contract used repo-wide (stated: this is
    variance of the 6-dp-quantized values, identical in both
    engines).

    Output: one row — k_groups, n_total, ss_between, ss_within,
    f_stat (round 6).
    """
    e = t["events"]
    g = e.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("_n"),
        F.sum(F.round(F.col("value"), 6).cast("decimal(27,6)")).alias("_s"),
        F.sum(
            F.round(F.col("value") * F.col("value"), 6).cast("decimal(27,6)")
        ).alias("_ss"),
    )
    tot = g.agg(
        F.count(F.lit(1)).cast("bigint").alias("k_groups"),
        F.sum("_n").cast("bigint").alias("n_total"),
        F.sum("_s").alias("_gs"),
    )
    gmean = F.col("_gs").cast("double") / F.col("n_total").cast("double")
    j = g.crossJoin(F.broadcast(tot.withColumn("_gmean", gmean)))
    mean_g = F.col("_s").cast("double") / F.col("_n").cast("double")
    ssb_term = F.col("_n").cast("double") * (mean_g - F.col("_gmean")) * (
        mean_g - F.col("_gmean")
    )
    ssw_term = F.col("_ss").cast("double") - F.col("_n").cast(
        "double"
    ) * mean_g * mean_g
    final = j.agg(
        F.max("k_groups").alias("k_groups"),
        F.max("n_total").alias("n_total"),
        F.sum(F.round(ssb_term, 6).cast("decimal(27,6)"))
        .cast("double")
        .alias("_ssb"),
        F.sum(F.round(ssw_term, 6).cast("decimal(27,6)"))
        .cast("double")
        .alias("_ssw"),
    )
    fstat = (
        F.col("_ssb") / (F.col("k_groups").cast("double") - F.lit(1.0))
    ) / (
        F.col("_ssw")
        / (F.col("n_total").cast("double") - F.col("k_groups").cast("double"))
    )
    return final.select(
        "k_groups",
        "n_total",
        (F.round(F.col("_ssb"), 6) + F.lit(0.0)).alias("ss_between"),
        (F.round(F.col("_ssw"), 6) + F.lit(0.0)).alias("ss_within"),
        (F.round(fstat, 6) + F.lit(0.0)).alias("f_stat"),
    )


def shipping_delay_capability(
    t: dict[str, DataFrame], lsl_days: int = 0, usl_days: int = 90
) -> DataFrame:
    """Process-capability indices (Cp / Cpk, the SPC pair) of the
    order→ship lead time against a [lsl, usl]-day service spec: Cp =
    (USL−LSL)/6σ asks "is the process WIDTH capable", Cpk =
    min(USL−μ, μ−LSL)/3σ asks "is it capable WHERE IT RUNS" — the
    fulfillment-SLA summary a logistics dashboard wants as two
    numbers instead of a histogram.  (The testdata schema carries
    l_shipdate but no receipt date, so the measured process is
    o_orderdate → l_shipdate; the default 90-day USL reflects the
    TPC-H ~121-day max lead time.)

    One orderkey-keyed join (the shipping_delay_stats shape — both
    sides fact-sized, AQE plans it); delays are integer day counts,
    so Σd and Σd² accumulate as exact BIGINTs (no decimal needed, no
    float until the final 1-row algebra — bit-portable at any
    parallelism, and Σd² ≈ n·10⁴ stays ~10^16 even at 100 TB row
    counts, inside int64).  Sample variance (n−1).

    Output: one row — n_lines, mean_delay, std_delay, cp, cpk
    (floats round 6).
    """
    li = t["lineitem"]
    o = t["orders"].select("o_orderkey", "o_orderdate")
    d = li.select("l_orderkey", "l_shipdate").join(
        o, F.col("l_orderkey") == F.col("o_orderkey")
    ).select(
        F.datediff(F.col("l_shipdate"), F.col("o_orderdate")).alias("_d")
    )
    agg = d.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_lines"),
        F.sum(F.col("_d").cast("bigint")).alias("_sd"),
        F.sum((F.col("_d") * F.col("_d")).cast("bigint")).alias("_sdd"),
    )
    n = F.col("n_lines").cast("double")
    mean = F.col("_sd").cast("double") / n
    var = (F.col("_sdd").cast("double") - n * mean * mean) / (n - F.lit(1.0))
    sigma = F.sqrt(F.greatest(var, F.lit(1e-18)))
    cp = (F.lit(float(usl_days)) - F.lit(float(lsl_days))) / (
        F.lit(6.0) * sigma
    )
    cpk = (
        F.least(
            F.lit(float(usl_days)) - mean, mean - F.lit(float(lsl_days))
        )
        / (F.lit(3.0) * sigma)
    )
    return agg.select(
        "n_lines",
        (F.round(mean, 6) + F.lit(0.0)).alias("mean_delay"),
        (F.round(sigma, 6) + F.lit(0.0)).alias("std_delay"),
        (F.round(cp, 6) + F.lit(0.0)).alias("cp"),
        (F.round(cpk, 6) + F.lit(0.0)).alias("cpk"),
    )


def events_welch_weekend(t: dict[str, DataFrame]) -> DataFrame:
    """Welch's unequal-variance t-test (Welch 1947) of weekend vs
    weekday daily event counts, with the Welch–Satterthwaite degrees
    of freedom — "is weekend traffic a different population" without
    the equal-variance assumption the classic two-sample t needs (and
    daily traffic never satisfies).

    Day-grid-sized: one scan to daily counts, one 2-group rollup.
    Daily counts are integers, so per-group Σc and Σc² accumulate as
    exact BIGINTs — no decimal, no float until the 1-row final
    algebra, bit-portable at any parallelism.  Weekend = Saturday or
    Sunday (Spark dayofweek 1=Sun, 7=Sat; the oracle's dayofweek is
    0-based — the repo-wide +1 convention).

    Output: one row — n_weekend, n_weekday, mean_weekend,
    mean_weekday, t_stat, df (floats round 6).
    """
    e = t["events"]
    daily = e.groupBy(F.to_date("ts").alias("d")).agg(
        F.count(F.lit(1)).alias("n")
    )
    g = daily.select(
        F.dayofweek("d").isin(1, 7).alias("_we"),
        F.col("n").cast("bigint").alias("n"),
    ).groupBy("_we").agg(
        F.count(F.lit(1)).cast("bigint").alias("_cnt"),
        F.sum("n").alias("_s"),
        F.sum(F.col("n") * F.col("n")).alias("_ss"),
    )
    piv = g.agg(
        F.max(F.when(F.col("_we"), F.col("_cnt"))).alias("n_weekend"),
        F.max(F.when(F.col("_we"), F.col("_s"))).alias("_s1"),
        F.max(F.when(F.col("_we"), F.col("_ss"))).alias("_ss1"),
        F.max(F.when(~F.col("_we"), F.col("_cnt"))).alias("n_weekday"),
        F.max(F.when(~F.col("_we"), F.col("_s"))).alias("_s2"),
        F.max(F.when(~F.col("_we"), F.col("_ss"))).alias("_ss2"),
    )
    n1 = F.col("n_weekend").cast("double")
    n2 = F.col("n_weekday").cast("double")
    m1 = F.col("_s1").cast("double") / n1
    m2 = F.col("_s2").cast("double") / n2
    v1 = (F.col("_ss1").cast("double") - n1 * m1 * m1) / (n1 - F.lit(1.0))
    v2 = (F.col("_ss2").cast("double") - n2 * m2 * m2) / (n2 - F.lit(1.0))
    a1 = v1 / n1
    a2 = v2 / n2
    tstat = (m1 - m2) / F.sqrt(F.greatest(a1 + a2, F.lit(1e-18)))
    df = ((a1 + a2) * (a1 + a2)) / F.greatest(
        a1 * a1 / (n1 - F.lit(1.0)) + a2 * a2 / (n2 - F.lit(1.0)),
        F.lit(1e-18),
    )
    return piv.select(
        "n_weekend",
        "n_weekday",
        (F.round(m1, 6) + F.lit(0.0)).alias("mean_weekend"),
        (F.round(m2, 6) + F.lit(0.0)).alias("mean_weekday"),
        (F.round(tstat, 6) + F.lit(0.0)).alias("t_stat"),
        (F.round(df, 6) + F.lit(0.0)).alias("df"),
    )


def events_grubbs(t: dict[str, DataFrame]) -> DataFrame:
    """Grubbs' outlier test (Grubbs 1950) on the daily event-count
    series: G = max|nᵢ − n̄|/s on each side — "is the most extreme
    day a statistical outlier", the formal one-outlier complement to
    the rolling z-score anomaly feed (events_daily_anomalies).

    Day-grid-sized; integer daily counts make Σc/Σc² exact BIGINTs
    (no decimal, float only in the 1-row final).  Both one-sided
    statistics are reported (max above, min below) — the two-sided G
    is their greatest, computed by the caller or eyeballed.

    Output: one row — n_days, mean_daily, std_daily, max_daily,
    min_daily, g_max, g_min (floats round 6).
    """
    e = t["events"]
    daily = e.groupBy(F.to_date("ts").alias("d")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )
    agg = daily.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_days"),
        F.sum("n").alias("_s"),
        F.sum(F.col("n") * F.col("n")).alias("_ss"),
        F.max("n").alias("max_daily"),
        F.min("n").alias("min_daily"),
    )
    nd = F.col("n_days").cast("double")
    mu = F.col("_s").cast("double") / nd
    var = (F.col("_ss").cast("double") - nd * mu * mu) / (nd - F.lit(1.0))
    s = F.sqrt(F.greatest(var, F.lit(1e-18)))
    return agg.select(
        "n_days",
        (F.round(mu, 6) + F.lit(0.0)).alias("mean_daily"),
        (F.round(s, 6) + F.lit(0.0)).alias("std_daily"),
        "max_daily",
        "min_daily",
        (F.round((F.col("max_daily").cast("double") - mu) / s, 6)
         + F.lit(0.0)).alias("g_max"),
        (F.round((mu - F.col("min_daily").cast("double")) / s, 6)
         + F.lit(0.0)).alias("g_min"),
    )


def orders_priority_trend(t: dict[str, DataFrame]) -> DataFrame:
    """Cochran–Armitage trend test (Cochran 1954, Armitage 1955) of
    the urgent-order share (1-URGENT / 2-HIGH) across calendar
    months: T = Σ sᵢ(rᵢ − nᵢp̄), Var(T) = p̄(1−p̄)·(Σnᵢsᵢ² −
    (Σnᵢsᵢ)²/N), z = T/√Var — "is the priority mix drifting over
    time", the ordered-categories complement to the unordered
    chi-square.

    Month-grid-sized: one scan to (month, n, r); scores are the
    epoch-month index, so every Σnᵢsᵢ, Σnᵢsᵢ², Σsᵢrᵢ is an exact
    BIGINT (months ~10³ even over a century; nᵢsᵢ² stays far inside
    int64 at 100 TB row counts).  Float enters only in the 1-row
    final: p̄ and the z algebra (one identically-parenthesized
    chain both engines).

    Output: one row — n_months, n_orders, n_high, z_stat (round 6).
    """
    o = t["orders"]
    m = o.select(
        (
            (F.year("o_orderdate") - F.lit(1970)) * F.lit(12)
            + F.month("o_orderdate") - F.lit(1)
        ).cast("bigint").alias("_s"),
        F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
        .cast("bigint")
        .alias("_hi"),
    )
    grid = m.groupBy("_s").agg(
        F.count(F.lit(1)).cast("bigint").alias("_n"),
        F.sum("_hi").alias("_r"),
    )
    agg = grid.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_months"),
        F.sum("_n").alias("n_orders"),
        F.sum("_r").alias("n_high"),
        F.sum(F.col("_s") * F.col("_r")).alias("_sr"),
        F.sum(F.col("_s") * F.col("_n")).alias("_sn"),
        F.sum(F.col("_s") * F.col("_s") * F.col("_n")).alias("_ssn"),
    )
    nn = F.col("n_orders").cast("double")
    pbar = F.col("n_high").cast("double") / nn
    tnum = F.col("_sr").cast("double") - pbar * F.col("_sn").cast("double")
    vart = (
        pbar
        * (F.lit(1.0) - pbar)
        * (
            F.col("_ssn").cast("double")
            - F.col("_sn").cast("double")
            * F.col("_sn").cast("double")
            / nn
        )
    )
    z = tnum / F.sqrt(F.greatest(vart, F.lit(1e-18)))
    return agg.select(
        "n_months",
        "n_orders",
        "n_high",
        (F.round(z, 6) + F.lit(0.0)).alias("z_stat"),
    )


def events_kruskal_wallis(
    t: dict[str, DataFrame], quantize: int = 4
) -> DataFrame:
    """Kruskal–Wallis rank-based omnibus test (Kruskal & Wallis 1952)
    of event value across ALL event types — the distribution-free
    counterpart of [[events_value_anova]] (use this when values are
    skewed/heavy-tailed and means mislead), with the full tie
    correction, mandatory because quantization creates ties by
    design.

    Same rank-free scale machinery as events_mann_whitney: values
    quantize to a bounded 4-dp grid; midranks come from a grid-sized
    cumulative window in exact ×2 integers (M2 = 2·cum_before + t +
    1); per-type ×2 rank sums accumulate as exact DECIMAL(38,0); the
    per-type H terms (R_j²/n_j) round to 6 dp and sum as DECIMAL over
    the |types|-row frame.  Floats appear only in final chains.  The
    all-tied degenerate corpus floors the tie-correction divisor at
    1e-18 (H is 0 there anyway, stated).

    Output: one row — k_groups, n_total, h_stat, h_tie_corrected
    (round 6).
    """
    from pyspark.sql import Window as W

    e = t["events"]
    g = (
        e.select(
            F.round(F.col("value").cast("double"), int(quantize)).alias("v"),
            "event_type",
        )
        .groupBy("v", "event_type")
        .agg(F.count(F.lit(1)).cast("bigint").alias("_c"))
    )
    grid = g.groupBy("v").agg(F.sum("_c").cast("bigint").alias("_t"))
    w = W.orderBy("v").rowsBetween(W.unboundedPreceding, -1)
    m2 = grid.select(
        "v",
        "_t",
        (
            F.lit(2) * F.coalesce(F.sum("_t").over(w), F.lit(0))
            + F.col("_t")
            + F.lit(1)
        ).cast("bigint").alias("_m2"),
    )
    per_type = (
        g.join(m2.select("v", "_m2"), "v")
        .groupBy("event_type")
        .agg(
            F.sum("_c").cast("bigint").alias("_n"),
            F.sum((F.col("_c") * F.col("_m2")).cast("decimal(38,0)")).alias(
                "_r2"
            ),
        )
    )
    # R_j = _r2/2; term_j = R_j² / n_j (double, round 6, DECIMAL sum)
    rj = F.col("_r2").cast("double") / F.lit(2.0)
    terms = per_type.select(
        "_n",
        F.round(rj * rj / F.col("_n").cast("double"), 6)
        .cast("decimal(27,6)")
        .alias("_term"),
    )
    tot = terms.agg(
        F.count(F.lit(1)).cast("bigint").alias("k_groups"),
        F.sum("_n").cast("bigint").alias("n_total"),
        F.sum("_term").cast("double").alias("_s"),
    )
    ties = grid.agg(
        F.sum(
            (
                F.col("_t") * F.col("_t") * F.col("_t") - F.col("_t")
            ).cast("decimal(38,0)")
        ).cast("double").alias("_ties")
    )
    j = tot.crossJoin(F.broadcast(ties))
    n = F.col("n_total").cast("double")
    h = (F.lit(12.0) / (n * (n + F.lit(1.0)))) * F.col("_s") - F.lit(
        3.0
    ) * (n + F.lit(1.0))
    corr = F.lit(1.0) - F.col("_ties") / (n * n * n - n)
    return j.select(
        "k_groups",
        "n_total",
        (F.round(h, 6) + F.lit(0.0)).alias("h_stat"),
        (F.round(h / F.greatest(corr, F.lit(1e-18)), 6) + F.lit(0.0)).alias(
            "h_tie_corrected"
        ),
    )


def events_levene(t: dict[str, DataFrame]) -> DataFrame:
    """Levene's test of variance homogeneity across event types
    (Levene 1960, mean-centered variant — the median-centered
    Brown–Forsythe needs an exact median, a different machine;
    stated): W = one-way-ANOVA F computed on the absolute deviations
    zᵢⱼ = |vᵢⱼ − v̄ⱼ| — the "are the spreads equal" pre-check that
    decides whether plain ANOVA's pooled variance is even meaningful.

    Two passes by necessity (means first, then deviations): pass 1 is
    the per-type round-6 DECIMAL mean rollup (|types| rows, broadcast
    back); pass 2 computes z row-wise (round 6) and reruns the exact
    two-level ANOVA moment pattern of [[events_value_anova]] on z.
    No fact-wide window, no extra shuffle beyond the two type-keyed
    rollups.

    Output: one row — k_groups, n_total, w_stat (round 6).
    """
    e = t["events"]
    means = e.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("_n"),
        F.sum(F.round(F.col("value"), 6).cast("decimal(27,6)")).alias("_s"),
    ).select(
        "event_type",
        (F.col("_s").cast("double") / F.col("_n").cast("double")).alias(
            "_mean"
        ),
    )
    z = e.join(F.broadcast(means), "event_type").select(
        "event_type",
        F.round(
            F.abs(F.round(F.col("value"), 6) - F.col("_mean")), 6
        ).alias("_z"),
    )
    g = z.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("_n"),
        F.sum(F.col("_z").cast("decimal(27,6)")).alias("_zs"),
        F.sum(
            F.round(F.col("_z") * F.col("_z"), 6).cast("decimal(27,6)")
        ).alias("_zss"),
    )
    tot = g.agg(
        F.count(F.lit(1)).cast("bigint").alias("k_groups"),
        F.sum("_n").cast("bigint").alias("n_total"),
        F.sum("_zs").alias("_gs"),
    )
    gmean = F.col("_gs").cast("double") / F.col("n_total").cast("double")
    j = g.crossJoin(F.broadcast(tot.withColumn("_gmean", gmean)))
    mean_g = F.col("_zs").cast("double") / F.col("_n").cast("double")
    ssb_term = F.col("_n").cast("double") * (mean_g - F.col("_gmean")) * (
        mean_g - F.col("_gmean")
    )
    ssw_term = F.col("_zss").cast("double") - F.col("_n").cast(
        "double"
    ) * mean_g * mean_g
    final = j.agg(
        F.max("k_groups").alias("k_groups"),
        F.max("n_total").alias("n_total"),
        F.sum(F.round(ssb_term, 6).cast("decimal(27,6)"))
        .cast("double")
        .alias("_ssb"),
        F.sum(F.round(ssw_term, 6).cast("decimal(27,6)"))
        .cast("double")
        .alias("_ssw"),
    )
    wstat = (
        F.col("_ssb") / (F.col("k_groups").cast("double") - F.lit(1.0))
    ) / F.greatest(
        F.col("_ssw")
        / (F.col("n_total").cast("double") - F.col("k_groups").cast("double")),
        F.lit(1e-18),
    )
    return final.select(
        "k_groups",
        "n_total",
        (F.round(wstat, 6) + F.lit(0.0)).alias("w_stat"),
    )


def events_cramers_v(t: dict[str, DataFrame]) -> DataFrame:
    """Cramér's V effect size for the type × day-of-week association:
    V = √(χ²/(N·min(r−1, c−1))) — the [0,1]-normalized companion to
    [[events_chi_square]] (χ² says "significant", V says "how
    strong"; at 100 TB row counts everything is significant, so V is
    the number that matters).  Same observed-cells contingency
    semantics as the χ² twin, stated.

    Identical shape to events_chi_square: one map-side-combinable
    count rollup, margins from windows over the ≤7·|types|-row table,
    per-cell terms round-9 into a DECIMAL total; V derives from the
    ROUND-6 χ² (the deterministic published number) in the 1-row
    final.

    Output: one row — chi_square, n_events, r_levels, c_levels,
    cramers_v (round 6).
    """
    from pyspark.sql import Window as W

    e = t["events"]
    cells = e.groupBy(
        F.col("event_type"), F.dayofweek("ts").alias("dow")
    ).agg(F.count(F.lit(1)).alias("o"))
    wt = W.partitionBy("event_type")
    wd = W.partitionBy("dow")
    wall = W.partitionBy()
    sized = (
        cells.withColumn("row_n", F.sum("o").over(wt))
        .withColumn("col_n", F.sum("o").over(wd))
        .withColumn("n", F.sum("o").over(wall))
    )
    term = sized.select(
        F.round(
            F.pow(F.col("o") - F.col("row_n") * F.col("col_n") / F.col("n"), 2)
            / (F.col("row_n") * F.col("col_n") / F.col("n")),
            9,
        ).alias("t"),
        "event_type",
        "dow",
        "n",
    )
    agg = term.agg(
        F.round(
            F.sum(F.col("t").cast("decimal(27,9)")).cast("double"), 6
        ).alias("chi_square"),
        F.max("n").cast("bigint").alias("n_events"),
        F.count_distinct("event_type").cast("bigint").alias("r_levels"),
        F.count_distinct("dow").cast("bigint").alias("c_levels"),
    )
    denom = F.col("n_events").cast("double") * F.least(
        F.col("r_levels") - F.lit(1), F.col("c_levels") - F.lit(1)
    ).cast("double")
    return agg.select(
        "chi_square",
        "n_events",
        "r_levels",
        "c_levels",
        (
            F.round(
                F.sqrt(F.col("chi_square") / F.greatest(denom, F.lit(1e-18))),
                6,
            )
            + F.lit(0.0)
        ).alias("cramers_v"),
    )


def lineitem_point_biserial(t: dict[str, DataFrame]) -> DataFrame:
    """Point-biserial correlation between the return flag
    (l_returnflag = 'R') and line revenue — "do returned lines skew
    expensive", the binary-vs-continuous effect size: r_pb =
    (M₁−M₀)/σₙ · √(p·q) with the population σ (the classic
    definition).

    One scan, one 1-row rollup: conditional round-6 DECIMAL sums for
    each group's Σx, a shared DECIMAL Σx², exact counts — float only
    in the final chain.

    Output: one row — n_returned, n_kept, mean_returned, mean_kept,
    r_pb (round 6).
    """
    li = t["lineitem"]
    x = F.round(
        F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount")), 6
    )
    flag = (F.col("l_returnflag") == "R").cast("int")
    agg = li.select(
        x.alias("_x"), flag.alias("_f")
    ).agg(
        F.sum("_f").cast("bigint").alias("n_returned"),
        (F.count(F.lit(1)) - F.sum("_f")).cast("bigint").alias("n_kept"),
        F.sum(
            F.when(F.col("_f") == 1, F.col("_x")).otherwise(F.lit(0.0))
            .cast("decimal(27,6)")
        ).alias("_s1"),
        F.sum(
            F.when(F.col("_f") == 0, F.col("_x")).otherwise(F.lit(0.0))
            .cast("decimal(27,6)")
        ).alias("_s0"),
        F.sum(
            F.round(F.col("_x") * F.col("_x"), 6).cast("decimal(27,6)")
        ).alias("_ss"),
    )
    n1 = F.col("n_returned").cast("double")
    n0 = F.col("n_kept").cast("double")
    n = n1 + n0
    m1 = F.col("_s1").cast("double") / n1
    m0 = F.col("_s0").cast("double") / n0
    mu = (F.col("_s1").cast("double") + F.col("_s0").cast("double")) / n
    varp = F.col("_ss").cast("double") / n - mu * mu
    sigma = F.sqrt(F.greatest(varp, F.lit(1e-18)))
    rpb = (m1 - m0) / sigma * F.sqrt(n1 / n * (n0 / n))
    return agg.select(
        "n_returned",
        "n_kept",
        (F.round(m1, 6) + F.lit(0.0)).alias("mean_returned"),
        (F.round(m0, 6) + F.lit(0.0)).alias("mean_kept"),
        (F.round(rpb, 6) + F.lit(0.0)).alias("r_pb"),
    )


def events_theil_sen(t: dict[str, DataFrame]) -> DataFrame:
    """Theil–Sen robust trend estimator (Theil 1950, Sen 1968) of the
    daily event-count series: slope = MEDIAN of all pairwise slopes
    (nⱼ−nᵢ)/(dⱼ−dᵢ), intercept = median of the residuals under the
    published slope — the outlier-immune complement to the OLS trend
    and the Mann–Kendall test (MK says "monotone?", Theil–Sen says
    "how steep", and one corrupted day cannot move either).

    Bounded-quadratic BY THE CALENDAR, not the data: the pair set is
    days², independent of row count (a decade is ~6.6M pairs — tiny
    at any corpus scale, stated), so the global median sort runs over
    a calendar²-bounded frame, never facts.  Slopes are single double
    divisions of exact integers — bit-identical cross-engine; the
    median is the exact order statistic (mean of the two middles for
    even counts; the two middles' SUM is a commutative two-double
    add, safe).  The intercept median reuses the ROUND-6 published
    slope so both engines subtract the same number.

    Output: one row — n_days, n_pairs, slope, intercept (round 6;
    the intercept is the trend LEVEL AT THE SERIES' FIRST DAY — x is
    centered on min(day), both because "level on day one" is the
    number a reader wants and because an epoch-day-0 intercept
    multiplies the slope by ~2·10⁴ days of extrapolation, the
    center-x-near-the-data rule from the DECIMAL-exactness notes).
    """
    from pyspark.sql import Window as W

    e = t["events"]
    raw = e.groupBy(F.to_date("ts").alias("d")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    ).select(F.unix_date(F.col("d")).cast("bigint").alias("x0"), "n")
    x_min = raw.agg(F.min("x0").alias("_xmin"))
    daily = raw.crossJoin(F.broadcast(x_min)).select(
        (F.col("x0") - F.col("_xmin")).alias("x"), "n"
    )
    daily = materialize(daily)  # pairs + residuals
    a = daily.select(F.col("x").alias("xa"), F.col("n").alias("na"))
    b = daily.select(F.col("x").alias("xb"), F.col("n").alias("nb"))
    pairs = a.join(b, F.col("xb") > F.col("xa")).select(
        (
            (F.col("nb") - F.col("na")).cast("double")
            / (F.col("xb") - F.col("xa")).cast("double")
        ).alias("_sl")
    )
    np_ = pairs.agg(F.count(F.lit(1)).cast("bigint").alias("_np"))
    w = W.orderBy("_sl")
    ranked = pairs.crossJoin(F.broadcast(np_)).withColumn(
        "_rn", F.row_number().over(w).cast("bigint")
    )
    slope = ranked.where(
        (F.col("_rn") >= F.expr("(_np + 1) div 2"))
        & (F.col("_rn") <= F.expr("_np div 2 + 1"))
    ).agg(
        F.max("_np").alias("n_pairs"),
        F.round(
            F.sum("_sl") / F.count(F.lit(1)).cast("double"), 6
        ).alias("slope"),
    )
    res = daily.crossJoin(F.broadcast(slope)).select(
        "n_pairs",
        "slope",
        (F.col("n").cast("double") - F.col("slope") * F.col("x").cast("double"))
        .alias("_r"),
    )
    nd = daily.agg(F.count(F.lit(1)).cast("bigint").alias("n_days"))
    wr = W.orderBy("_r")
    rranked = res.crossJoin(F.broadcast(nd)).withColumn(
        "_rn", F.row_number().over(wr).cast("bigint")
    )
    return rranked.where(
        (F.col("_rn") >= F.expr("(n_days + 1) div 2"))
        & (F.col("_rn") <= F.expr("n_days div 2 + 1"))
    ).agg(
        F.max("n_days").alias("n_days"),
        F.max("n_pairs").alias("n_pairs"),
        (F.max("slope") + F.lit(0.0)).alias("slope"),
        (
            F.round(F.sum("_r") / F.count(F.lit(1)).cast("double"), 6)
            + F.lit(0.0)
        ).alias("intercept"),
    )


#: 2π pinned to the exact double both engines parse (the z²-pinning
#: convention from the DECIMAL-exactness notes).
TWO_PI = 6.283185307179586


def events_periodogram(
    t: dict[str, DataFrame], min_period: int = 2, max_period: int = 10
) -> DataFrame:
    """Schuster periodogram of the daily event-count series at
    integer candidate periods (min..max days): I(p) = (a_p² + b_p²)/N
    with a_p = Σ devₜ·cos(2πt/p), b_p = Σ devₜ·sin(2πt/p) — the
    spectral "which rhythm does traffic actually have" scan whose
    7-day peak is the weekly cycle every retail series carries (the
    frequency-domain complement to the lag-domain ACF).

    Engine-portability of transcendentals, handled: the angle
    argument is reduced EXACTLY first (t mod p — integer mod, so
    both engines call cos/sin on bit-identical small arguments in
    [0, 2π)), 2π is pinned to the exact double literal both engines
    parse, and each cos/sin product rounds to 9 dp before the exact
    DECIMAL sum — a last-ulp libm disagreement (~1e-16 relative) is
    orders of magnitude below the 0.5e-9 rounding decision boundary
    at any realistic count magnitude, so the sums are bit-identical.
    Day-grid × |periods| rows end to end (the periods frame is a
    9-row broadcast); one scan to the day grid.

    Output: period, power (round 6), ordered by period.
    """
    e = t["events"]
    daily = e.groupBy(F.to_date("ts").alias("d")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )
    stats = daily.agg(
        (F.sum("n").cast("double") / F.count(F.lit(1))).alias("_mu"),
        F.count(F.lit(1)).cast("bigint").alias("_nd"),
        F.min(F.unix_date(F.col("d")).cast("bigint")).alias("_x0"),
    )
    dev = daily.crossJoin(F.broadcast(stats)).select(
        (F.unix_date(F.col("d")).cast("bigint") - F.col("_x0")).alias("t"),
        (F.col("n").cast("double") - F.col("_mu")).alias("dev"),
        "_nd",
    )
    periods = daily.sparkSession.range(
        int(min_period), int(max_period) + 1
    ).select(F.col("id").cast("bigint").alias("period"))
    theta = (
        F.lit(TWO_PI)
        * F.pmod(F.col("t"), F.col("period")).cast("double")
        / F.col("period").cast("double")
    )
    terms = dev.crossJoin(F.broadcast(periods)).select(
        "period",
        "_nd",
        F.round(F.col("dev") * F.cos(theta), 9)
        .cast("decimal(38,9)")
        .alias("_a"),
        F.round(F.col("dev") * F.sin(theta), 9)
        .cast("decimal(38,9)")
        .alias("_b"),
    )
    agg = terms.groupBy("period").agg(
        F.max("_nd").alias("_nd"),
        F.sum("_a").cast("double").alias("_sa"),
        F.sum("_b").cast("double").alias("_sb"),
    )
    power = (
        F.col("_sa") * F.col("_sa") + F.col("_sb") * F.col("_sb")
    ) / F.col("_nd").cast("double")
    return agg.select(
        "period",
        (F.round(power, 6) + F.lit(0.0)).alias("power"),
    ).orderBy("period")


def events_page_hinkley(t: dict[str, DataFrame]) -> DataFrame:
    """Page–Hinkley drift statistics (Page 1954, Hinkley 1971) of the
    daily event-count series, retrospective two-pass form (the
    deviation baseline is the FULL-series mean, stated — the online
    running-mean variant is a streaming concern): PHₜ = Σᵢ≤ₜ(xᵢ−x̄),
    upward stat = maxₜ(PHₜ − minₛ≤ₜ PHₛ), downward its mirror — the
    classic one-sided drift pair with running-extremum reset, sharper
    than CUSUM's symmetric V-mask reading when only one direction
    matters (traffic collapse vs traffic surge alarms).

    Day-grid-sized: round-6 deviation terms cumulate as exact
    DECIMAL over the day-ordered window; running min/max are windows
    over the SAME ≤days-row frame; one 1-row final.

    Output: one row — n_days, ph_up, ph_down (round 6).
    """
    from pyspark.sql import Window as W

    e = t["events"]
    daily = e.groupBy(F.to_date("ts").alias("d")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )
    mu = daily.agg(
        (F.sum("n").cast("double") / F.count(F.lit(1))).alias("_mu"),
        F.count(F.lit(1)).cast("bigint").alias("n_days"),
    )
    dev = daily.crossJoin(F.broadcast(mu)).select(
        "d",
        "n_days",
        F.round(F.col("n").cast("double") - F.col("_mu"), 6)
        .cast("decimal(27,6)")
        .alias("_dev"),
    )
    wc = W.orderBy("d").rowsBetween(W.unboundedPreceding, W.currentRow)
    ph = dev.select(
        "d", "n_days", F.sum("_dev").over(wc).alias("_ph")
    )
    ph = ph.select(
        "n_days",
        "_ph",
        F.min("_ph").over(wc).alias("_runmin"),
        F.max("_ph").over(wc).alias("_runmax"),
    )
    return ph.agg(
        F.max("n_days").alias("n_days"),
        (
            F.round(
                F.max((F.col("_ph") - F.col("_runmin")).cast("double")), 6
            )
            + F.lit(0.0)
        ).alias("ph_up"),
        (
            F.round(
                F.max((F.col("_runmax") - F.col("_ph")).cast("double")), 6
            )
            + F.lit(0.0)
        ).alias("ph_down"),
    )


def events_session_gap_sweep(
    t: dict[str, DataFrame], gaps_minutes: tuple[int, ...] = (15, 30, 60)
) -> DataFrame:
    """Session-gap knob-choice table: the sessionization statistics
    that decide the timeout setting, at several candidate gaps in one
    query.  The reference's fixed-batch iteration never has to pick a
    session timeout; every event pipeline does, and the choice is
    usually made by eyeballing exactly this table (how fast does the
    session count collapse / the mean duration inflate as the gap
    grows).

    One corpus pass computes the per-user inter-event gap (the same
    lag + running-sum shape as :func:`events_sessionize`, one shuffle
    on user_id, per-user-bounded frames); each candidate gap then
    derives its own session ids from that shared gap column — the
    expensive work (scan + user shuffle + sort within user) is paid
    ONCE, and each setting adds only a map-side running sum plus a
    session-grain rollup.  Session grain is strictly smaller than
    event grain, so the per-setting aggregates are sublinear
    follow-ups, not new scans.

    Output (one row per candidate gap): gap_minutes, n_sessions,
    n_singleton_sessions, avg_events_per_session (round 6),
    avg_duration_sec (round 6), max_duration_sec.
    """
    from pyspark.sql import Window as W

    e = t["events"]
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    gap_sec = F.col("ts").cast("long") - F.lag(F.col("ts").cast("long")).over(w)
    base = e.select("user_id", "event_id", "ts").withColumn("_gap", gap_sec)
    wrun = w.rowsBetween(W.unboundedPreceding, 0)
    for g in gaps_minutes:
        new_s = F.when(
            F.col("_gap").isNull() | (F.col("_gap") > int(g) * 60), F.lit(1)
        ).otherwise(F.lit(0))
        base = base.withColumn(f"_s{g}", F.sum(new_s).over(wrun))
    # one explode fans each event into (gap, session_seq) rows so the
    # scan + user-shuffle + in-user sort are paid exactly once for the
    # whole sweep; everything downstream is session-grain or smaller
    fan = base.select(
        "user_id",
        F.col("ts").cast("long").alias("_tsec"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(int(g)).cast("bigint").alias("gap_minutes"),
                        F.col(f"_s{g}").cast("bigint").alias("seq"),
                    )
                    for g in gaps_minutes
                ]
            )
        ).alias("_b"),
    ).select("user_id", "_tsec", "_b.gap_minutes", "_b.seq")
    sess = fan.groupBy("gap_minutes", "user_id", "seq").agg(
        F.count(F.lit(1)).alias("_n"),
        (F.max("_tsec") - F.min("_tsec")).alias("_dur"),
    )
    return (
        sess.groupBy("gap_minutes")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_sessions"),
            F.sum(F.when(F.col("_n") == 1, 1).otherwise(0))
            .cast("bigint")
            .alias("n_singleton_sessions"),
            F.round(
                F.sum("_n").cast("double") / F.count(F.lit(1)).cast("double"), 6
            ).alias("avg_events_per_session"),
            F.round(
                F.sum("_dur").cast("double") / F.count(F.lit(1)).cast("double"),
                6,
            ).alias("avg_duration_sec"),
            F.max("_dur").cast("bigint").alias("max_duration_sec"),
        )
        .orderBy("gap_minutes")
    )


def join_broadcast_planner(
    t: dict[str, DataFrame],
    thresholds_bytes: tuple[int, ...] = (4096, 65536, 1048576),
) -> DataFrame:
    """Broadcast-vs-shuffle join planner: an exact in-plan estimate of
    each dimension table's payload bytes beside the broadcast decision
    it implies at several autoBroadcastJoinThreshold candidates.  This
    is the planning query behind every `broadcast()` hint in this
    repo: at 100 TB the dims that fit under the threshold join
    shuffle-free, and the ones that do not must be bucketed — knowing
    which side of the line each table sits on IS the join plan.

    Size model (portable, exact, engine-neutral): string columns
    contribute their octet length, fixed-width numerics/dates 8 bytes
    per row — a deliberate flat-rate proxy for in-memory row size
    (stated; Tungsten's real layout adds null bitmaps and padding,
    but the *ordering* of tables and their threshold crossings, which
    is what the decision needs, is insensitive to the constant).
    One single-scan aggregate per dimension table (5 metadata-sized
    rows total), cross-joined with the literal threshold grid — no
    fact-table scan anywhere.

    Output: table_name, n_rows, est_bytes, threshold_bytes, strategy.
    """
    specs = {
        "region": (["r_name"], 1),
        "nation": (["n_name"], 2),
        "supplier": (["s_name"], 3),
        "customer": (["c_name", "c_mktsegment"], 3),
        "part": (["p_name", "p_brand", "p_type"], 3),
    }
    out = None
    for name, (str_cols, n_fixed) in specs.items():
        df = t[name]
        row_bytes = sum(
            (F.octet_length(F.col(c)).cast("bigint") for c in str_cols),
            F.lit(8 * n_fixed).cast("bigint"),
        )
        row = df.agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            F.sum(row_bytes).cast("bigint").alias("est_bytes"),
        ).select(F.lit(name).alias("table_name"), "*")
        out = row if out is None else out.unionByName(row)
    # explode a literal threshold array instead of unioning one branch
    # per setting: each dim table is scanned exactly once regardless of
    # how many thresholds the sweep carries
    grid = out.select(
        "*",
        F.explode(
            F.array(*[F.lit(int(th)).cast("bigint") for th in thresholds_bytes])
        ).alias("threshold_bytes"),
    )
    return grid.withColumn(
        "strategy",
        F.when(F.col("est_bytes") <= F.col("threshold_bytes"), "broadcast")
        .otherwise("shuffle"),
    )


def events_ab_cuped(
    t: dict[str, DataFrame], salt: str = "exp1", split_day: int = 15
) -> DataFrame:
    """CUPED variance reduction for the A/B readout (Deng, Xu,
    Kohavi & Walker 2013 — THE industry experiment-sensitivity
    technique): each user's PRE-period activity (value sum before
    ``split_day`` days into the data) is the covariate; the adjusted
    post-period metric Y' = Y − θ(X − X̄) with θ = cov(X,Y)/var(X)
    (pooled across arms, the standard practice — θ from a
    pre-experiment covariate is assignment-independent, so the
    adjustment is unbiased) keeps the same mean per arm while
    shrinking variance by exactly the X-Y correlation² — the measured
    `variance_reduction` column is the certificate that the covariate
    was worth collecting.

    Shape: one user-grain rollup (conditional sums split pre/post —
    no second scan), 1-row pooled moments broadcast back, then a
    2-row arm rollup.  Moments follow the house float contract:
    per-user products round(6) into DECIMAL sums, so θ and every
    variance are bit-deterministic at any parallelism.

    Output per arm: arm, n_users, mean_y, mean_y_cuped, var_y,
    var_y_cuped, theta, variance_reduction (all round 6).
    """
    from fuel_spark.functions import round6_ratio

    e = t["events"]
    arm = F.when(
        F.conv(
            F.substring(
                F.md5(
                    F.concat_ws(
                        "-", F.lit(salt), F.col("user_id").cast("string")
                    )
                ),
                1, 6,
            ),
            16, 10,
        ).cast("bigint") % 2 == 0,
        "A",
    ).otherwise("B")
    day0 = e.agg(
        F.min(F.floor(F.col("ts").cast("long") / 86400)).alias("_d0")
    )
    pre = F.col("_day") < F.col("_d0") + int(split_day)
    per_user = (
        e.withColumn("_day", F.floor(F.col("ts").cast("long") / 86400))
        .crossJoin(F.broadcast(day0))
        .groupBy(arm.alias("arm"), F.col("user_id"))
        .agg(
            F.round(
                F.sum(
                    F.when(pre, F.col("value").cast(DEC)).otherwise(
                        F.lit(0).cast(DEC)
                    )
                ).cast("double"),
                6,
            ).alias("x"),
            F.round(
                F.sum(
                    F.when(~pre, F.col("value").cast(DEC)).otherwise(
                        F.lit(0).cast(DEC)
                    )
                ).cast("double"),
                6,
            ).alias("y"),
        )
    )
    d6 = lambda c: F.round(c, 6).cast(DEC)
    pooled = per_user.agg(
        F.count(F.lit(1)).alias("_n"),
        F.sum(d6(F.col("x"))).alias("_sx"),
        F.sum(d6(F.col("y"))).alias("_sy"),
        F.sum(d6(F.col("x") * F.col("x"))).alias("_sxx"),
        F.sum(d6(F.col("x") * F.col("y"))).alias("_sxy"),
    )
    adj = per_user.crossJoin(F.broadcast(pooled)).select(
        "arm",
        "x",
        "y",
        (
            (
                F.col("_sxy").cast("double")
                - F.col("_sx").cast("double")
                * F.col("_sy").cast("double")
                / F.col("_n")
            )
            / F.greatest(
                F.col("_sxx").cast("double")
                - F.col("_sx").cast("double")
                * F.col("_sx").cast("double")
                / F.col("_n"),
                F.lit(1e-12),
            )
        ).alias("_theta"),
        (F.col("_sx").cast("double") / F.col("_n")).alias("_xbar"),
    )
    adj = adj.withColumn(
        "yc",
        F.round(
            F.col("y")
            - F.col("_theta") * (F.col("x") - F.col("_xbar")),
            6,
        ),
    )
    return (
        adj.groupBy("arm")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_users"),
            round6_ratio(F.sum(d6(F.col("y"))), F.count(F.lit(1))).alias(
                "mean_y"
            ),
            round6_ratio(F.sum(d6(F.col("yc"))), F.count(F.lit(1))).alias(
                "mean_y_cuped"
            ),
            F.sum(d6(F.col("y") * F.col("y"))).alias("_syy"),
            F.sum(d6(F.col("y"))).alias("_sy"),
            F.sum(d6(F.col("yc") * F.col("yc"))).alias("_scc"),
            F.sum(d6(F.col("yc"))).alias("_sc"),
            F.any_value("_theta").alias("_th"),
        )
        .select(
            "arm",
            "n_users",
            "mean_y",
            "mean_y_cuped",
            F.round(
                F.col("_syy").cast("double") / F.col("n_users")
                - (F.col("_sy").cast("double") / F.col("n_users"))
                * (F.col("_sy").cast("double") / F.col("n_users")),
                6,
            ).alias("var_y"),
            F.round(
                F.col("_scc").cast("double") / F.col("n_users")
                - (F.col("_sc").cast("double") / F.col("n_users"))
                * (F.col("_sc").cast("double") / F.col("n_users")),
                6,
            ).alias("var_y_cuped"),
            F.round(F.col("_th"), 6).alias("theta"),
            F.round(
                1.0
                - (
                    F.col("_scc").cast("double") / F.col("n_users")
                    - (F.col("_sc").cast("double") / F.col("n_users"))
                    * (F.col("_sc").cast("double") / F.col("n_users"))
                )
                / F.greatest(
                    F.col("_syy").cast("double") / F.col("n_users")
                    - (F.col("_sy").cast("double") / F.col("n_users"))
                    * (F.col("_sy").cast("double") / F.col("n_users")),
                    F.lit(1e-12),
                ),
                6,
            ).alias("variance_reduction"),
        )
        .orderBy("arm")
    )


def events_funnel_window_sweep(
    t: dict[str, DataFrame],
    steps: tuple[str, str, str] = ("view", "click", "purchase"),
    windows_seconds: tuple[int, ...] = (3600, 21600, 86400),
) -> DataFrame:
    """Conversion-window knob-choice table: the windowed funnel at
    several max-gap candidates in one query — the analytics twin of
    `events_session_gap_sweep` (every funnel dashboard hard-codes a
    window; this table is how it gets picked: where does conversion
    stop growing as the window widens).

    The per-step event subsets (first-view minima, the click and
    purchase streams) are materialized once — every window candidate
    reads them; each window then adds only its two bounded-gap
    chained joins on the shared user_id key.  Stage-2/3 frames are
    user-grain or smaller.

    Output per (window_seconds, stage): stage name, n_users,
    conversion vs stage 1 (round 6).  Monotone in the window by
    construction (wider window ⊇ narrower matches) — tested.
    """
    e = t["events"]
    s1 = materialize(
        e.where(F.col("event_type") == steps[0])
        .groupBy("user_id")
        .agg(F.min("ts").alias("t1"))
    )
    clicks = materialize(
        e.where(F.col("event_type") == steps[1])
        .select("user_id", "ts")
    )
    purchases = materialize(
        e.where(F.col("event_type") == steps[2])
        .select("user_id", "ts")
    )
    out = None
    for wsec in windows_seconds:
        gap = F.expr(f"INTERVAL {int(wsec)} SECONDS")
        s2 = (
            clicks.join(s1, "user_id")
            .where(
                (F.col("ts") > F.col("t1"))
                & (F.col("ts") <= F.col("t1") + gap)
            )
            .groupBy("user_id")
            .agg(F.min("ts").alias("t2"))
        )
        s3 = (
            purchases.join(s2, "user_id")
            .where(
                (F.col("ts") > F.col("t2"))
                & (F.col("ts") <= F.col("t2") + gap)
            )
            .groupBy("user_id")
            .agg(F.min("ts").alias("t3"))
        )
        counts = None
        for i, (name, s) in enumerate(
            [(steps[0], s1), (steps[1], s2), (steps[2], s3)], 1
        ):
            c = s.agg(F.count(F.lit(1)).alias("n_users")).select(
                F.lit(int(wsec)).cast("bigint").alias("window_seconds"),
                F.lit(i).cast("bigint").alias("stage"),
                F.lit(name).alias("step"),
                "n_users",
            )
            counts = c if counts is None else counts.unionByName(c)
        out = counts if out is None else out.unionByName(counts)
    from pyspark.sql import Window as W

    base = F.first("n_users").over(
        W.partitionBy("window_seconds").orderBy("stage")
    )
    return out.withColumn(
        "conversion",
        F.round(
            F.col("n_users").cast("double")
            / F.greatest(base.cast("double"), F.lit(1.0)),
            6,
        ),
    ).orderBy("window_seconds", "stage")


def events_ab_power_sweep(
    t: dict[str, DataFrame], mdes: tuple[float, ...] = (0.01, 0.02, 0.05)
) -> DataFrame:
    """A/B sample-size planner: required users per arm at several
    minimum-detectable-effect candidates, from the measured per-user
    metric variance — the 16·σ²/Δ² rule of thumb (Kohavi, Tang & Xu
    2020, §17: two-sided α=0.05 at 80% power; the exact constant is
    2(z_{α/2}+z_β)² ≈ 15.7, rounded up to 16 by convention, stated).
    Completes the experimentation trio: `events_ab_test` reads the
    experiment, `events_ab_cuped` sharpens it, THIS table says
    whether the traffic can power it at all — the go/no-go every
    experiment review starts with.

    One user-grain rollup, a 1-row DECIMAL moment reduction, then a
    literal MDE-grid explode over the 1-row frame.

    Output per MDE: mde_rel, mean_per_user, var_per_user,
    n_per_arm_required, n_users_available, powered.
    """
    e = t["events"]
    per_user = e.groupBy("user_id").agg(
        F.round(F.sum(F.col("value").cast(DEC)).cast("double"), 6).alias("x")
    )
    d6 = lambda c: F.round(c, 6).cast(DEC)
    mom = per_user.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_users_available"),
        F.sum(d6(F.col("x"))).alias("_sx"),
        F.sum(d6(F.col("x") * F.col("x"))).alias("_sxx"),
    )
    grid = mom.select(
        "*",
        F.explode(
            F.array(*[F.lit(float(m)) for m in mdes])
        ).alias("mde_rel"),
    )
    mean = F.col("_sx").cast("double") / F.col("n_users_available")
    var = (
        F.col("_sxx").cast("double") / F.col("n_users_available")
        - mean * mean
    )
    delta = F.col("mde_rel") * mean
    n_req = F.ceil(
        F.lit(16.0) * var / F.greatest(delta * delta, F.lit(1e-12))
    ).cast("bigint")
    return grid.select(
        "mde_rel",
        F.round(mean, 6).alias("mean_per_user"),
        F.round(var, 6).alias("var_per_user"),
        n_req.alias("n_per_arm_required"),
        "n_users_available",
        (F.col("n_users_available") >= F.lit(2) * n_req).alias("powered"),
    ).orderBy("mde_rel")
