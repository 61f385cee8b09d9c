"""TPC-H headline queries adapted to the fixture star schema (FIXTURES.md).

The reference (josemarialuna/ClusterIndices) publishes no TPC benchmark
(SURVEY.md §6, [GH, conf=H]); these queries exist to exercise the engine's
relational surface on the canonical decision-support shapes and to anchor
bench.py with industry-recognisable plans. Adaptations forced by the fixture
schema (no partsupp, no l_shipmode/l_commitdate/l_receiptdate, dates are
TIMESTAMP): Q12 and Q4's predicates are not expressible and are omitted;
Q10 drops the address/phone columns; everything else keeps the published
query shape.

Scale posture:
- q1/q6: single scan, map-side partial agg over ≤6 groups — the 100 TB plan
  is scan-bound; predicates reach the parquet reader (PushedFilters).
- q3/q5/q10/q18: fact⋈fact shuffles on the join key + broadcast dims.
  At 100 TB, bucket lineitem+orders on orderkey to turn the big shuffle
  into a co-located join; AQE handles skew splits.
- q18's HAVING runs on the partial-agg side of the shuffle (groupBy
  orderkey ≈ pre-bucketed), then semi-joins back — expressed directly with
  a join on the aggregated result so Catalyst reuses the exchange.

All money sums use the decimal exact-sum pattern (functions/aggregates.py)
for cross-engine hash stability.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from clusterindices_spark.functions.aggregates import (
    finite_or_null,
    exact_avg,
    exact_sum,
    sql_exact_avg,
    sql_exact_sum,
)
from clusterindices_spark.sources.fixtures import load_table

_CUTOFF = "1998-09-01"  # q1 shipdate cutoff (fixture dates span 1995..2001)


def q_tpch_q1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pricing summary report: one scan, 6-group hash agg."""
    li = load_table(spark, sf_dir, "lineitem").where(
        F.col("l_shipdate") <= F.lit(_CUTOFF).cast("timestamp")
    )
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = disc_price * (1 + F.col("l_tax"))
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        exact_sum("l_quantity", "sum_qty"),
        exact_sum("l_extendedprice", "sum_base_price"),
        exact_sum(disc_price, "sum_disc_price"),
        exact_sum(charge, "sum_charge"),
        exact_avg("l_quantity", "avg_qty"),
        exact_avg("l_extendedprice", "avg_price"),
        exact_avg("l_discount", "avg_disc"),
        F.count(F.lit(1)).alias("count_order"),
    )


def q_tpch_q3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shipping priority: BUILDING-segment revenue per order, top 10."""
    cutoff = F.lit("1998-03-15").cast("timestamp")
    c = load_table(spark, sf_dir, "customer").where(
        F.col("c_mktsegment") == "BUILDING"
    )
    o = load_table(spark, sf_dir, "orders").where(F.col("o_orderdate") < cutoff)
    li = load_table(spark, sf_dir, "lineitem").where(F.col("l_shipdate") > cutoff)
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("l_orderkey", F.col("o_orderdate").cast("date").alias("o_date"))
        .agg(
            exact_sum(
                F.col("l_extendedprice") * (1 - F.col("l_discount")), "revenue"
            )
        )
        .orderBy(F.col("revenue").desc(), F.col("l_orderkey"))
        .limit(10)
    )


def q_tpch_q5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Local supplier volume: revenue per nation where supplier and customer
    share the nation; dims broadcast, facts shuffle on their keys."""
    r = load_table(spark, sf_dir, "region").where(F.col("r_name") == "ASIA")
    n = load_table(spark, sf_dir, "nation")
    c = load_table(spark, sf_dir, "customer")
    s = load_table(spark, sf_dir, "supplier")
    o = load_table(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(
            F.broadcast(s),
            (li.l_suppkey == s.s_suppkey) & (c.c_nationkey == s.s_nationkey),
        )
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("n_name")
        .agg(
            exact_sum(
                F.col("l_extendedprice") * (1 - F.col("l_discount")), "revenue"
            )
        )
    )


def q_tpch_q6(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forecasting revenue change: pure scan + filter + scalar agg; every
    predicate must appear in PushedFilters."""
    li = load_table(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_discount").between(0.05, 0.07))
        & (F.col("l_quantity") < 24)
    )
    return li.agg(
        exact_sum(F.col("l_extendedprice") * F.col("l_discount"), "revenue"),
        F.count(F.lit(1)).alias("n_items"),
    )


def q_tpch_q10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Returned-item reporting: revenue lost to returns per customer in a
    quarter, top 20 (address/phone columns absent from fixtures)."""
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    o = load_table(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1996-10-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    li = load_table(spark, sf_dir, "lineitem").where(F.col("l_returnflag") == "R")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(
            exact_sum(
                F.col("l_extendedprice") * (1 - F.col("l_discount")), "revenue"
            ),
            F.round(F.max("c_acctbal"), 6).alias("acctbal"),
        )
        .orderBy(F.col("revenue").desc(), F.col("c_custkey"))
        .limit(20)
    )


def q_tpch_q14(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Promotion effect: PROMO revenue share in a month. Two decimal sums →
    one scalar; part side broadcast."""
    li = load_table(spark, sf_dir, "lineitem").withColumn("l_extendedprice", finite_or_null("l_extendedprice")).withColumn("l_discount", finite_or_null("l_discount")).where(
        (F.col("l_shipdate") >= F.lit("1996-09-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-10-01").cast("timestamp"))
    )
    p = load_table(spark, sf_dir, "part")
    rev = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
        "decimal(18,6)"
    )
    joined = li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
    return joined.agg(
        F.round(
            (
                F.lit(100.0)
                * F.sum(F.when(F.col("p_type") == "PROMO", rev).otherwise(F.lit(0)))
                / F.sum(rev)
            ).cast("double"),
            6,
        ).alias("promo_revenue_pct")
    )



def q_tpch_q8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """National market share: NATION_6's share of STANDARD-part volume sold
    into AMERICA, per order year. Every dim (part, customer, supplier, the
    two nation roles, region) broadcasts; the only big shuffle is
    lineitem ⋈ orders on orderkey. The share divides two decimal-exact sums
    so boundary rows can't flip cross-engine (q14 pattern)."""
    p = load_table(spark, sf_dir, "part").where(F.col("p_type") == "STANDARD")
    o = load_table(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1995-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    li = load_table(spark, sf_dir, "lineitem")
    c = load_table(spark, sf_dir, "customer")
    s = load_table(spark, sf_dir, "supplier")
    n1 = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("c_nkey"), F.col("n_regionkey").alias("c_rkey")
    )
    n2 = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("s_nkey"), F.col("n_name").alias("nation")
    )
    r = load_table(spark, sf_dir, "region").where(F.col("r_name") == "AMERICA")
    vol = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
        "decimal(18,6)"
    )
    joined = (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n1), c.c_nationkey == F.col("c_nkey"))
        .join(F.broadcast(r), F.col("c_rkey") == r.r_regionkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n2), s.s_nationkey == F.col("s_nkey"))
        .select(
            F.year("o_orderdate").alias("o_year"),
            vol.alias("volume"),
            "nation",
        )
    )
    return joined.groupBy("o_year").agg(
        F.round(
            (
                F.sum(
                    F.when(F.col("nation") == "NATION_6", F.col("volume")).otherwise(
                        F.lit(0)
                    )
                )
                / F.sum("volume")
            ).cast("double"),
            6,
        ).alias("mkt_share")
    )


def q_tpch_q18(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Large-volume customers: orders whose total quantity exceeds 180.
    The HAVING aggregate groups on the join key itself, so Catalyst places
    it before the orders join and the later join reuses the exchange."""
    li = load_table(spark, sf_dir, "lineitem")
    big = (
        li.groupBy("l_orderkey")
        .agg(exact_sum("l_quantity", "total_qty"))
        .where(F.col("total_qty") > 180)
    )
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    return (
        big.join(o, big.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .select(
            "c_custkey",
            "c_name",
            "o_orderkey",
            F.col("o_orderdate").cast("date").alias("o_date"),
            F.round("o_totalprice", 6).alias("price"),
            "total_qty",
        )
        .orderBy(F.col("total_qty").desc(), F.col("o_orderkey"))
        .limit(100)
    )


def q_tpch_q7(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Volume shipping between two nations, both directions, by year.
    Both nation dims broadcast; the OR-pair predicate runs post-join on the
    broadcast columns (fixture nations are synthetic NATION_N names)."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    s = load_table(spark, sf_dir, "supplier")
    n1 = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("s_nk"), F.col("n_name").alias("supp_nation")
    )
    n2 = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("c_nk"), F.col("n_name").alias("cust_nation")
    )
    pair = (
        (F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2")
    ) | ((F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1"))
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n1), s.s_nationkey == F.col("s_nk"))
        .join(F.broadcast(n2), c.c_nationkey == F.col("c_nk"))
        .where(pair)
        .groupBy(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").alias("l_year"),
        )
        .agg(
            exact_sum(
                F.col("l_extendedprice") * (1 - F.col("l_discount")), "revenue"
            )
        )
    )


def q_tpch_q13(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customer order-count distribution INCLUDING zero-order customers —
    the left-outer + double-aggregation shape."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").where(
        F.col("o_orderpriority") != "1-URGENT"
    )
    per_cust = (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(
        F.count(F.lit(1)).alias("custdist")
    )


def q_tpch_q19(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Discounted revenue under OR-of-AND predicate branches spanning the
    joined part attributes and lineitem ranges — exercises disjunctive
    predicate planning (common filter pushed to scan, branches post-join)."""
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    branch = (
        (
            (F.col("p_brand") == "Brand#1")
            & (F.col("p_size").between(1, 15))
            & (F.col("l_quantity").between(1, 11))
        )
        | (
            (F.col("p_brand") == "Brand#2")
            & (F.col("p_size").between(1, 25))
            & (F.col("l_quantity").between(10, 20))
        )
        | (
            (F.col("p_type") == "PROMO")
            & (F.col("p_size").between(1, 35))
            & (F.col("l_quantity").between(20, 30))
        )
    )
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .where(branch & (F.col("l_discount") > 0.01))
        .agg(
            exact_sum(
                F.col("l_extendedprice") * (1 - F.col("l_discount")), "revenue"
            ),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


def q_tpch_q22(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global-sales-opportunity shape: customers with above-average positive
    balance and no orders (scalar subquery + anti join), grouped by segment
    (fixtures have no phone column; mktsegment plays the country-code role)."""
    c = load_table(spark, sf_dir, "customer")
    # "inactive" = no orders since 2000 (every fixture customer has SOME
    # order, so the classic no-orders-ever predicate selects nothing)
    o = load_table(spark, sf_dir, "orders").where(
        F.col("o_orderdate") >= F.lit("2000-01-01").cast("timestamp")
    )
    # decimal-exact mean (same pattern as q17): a raw float AVG differs
    # between Spark partial aggregation and DuckDB in the last ulps, which
    # can flip customers sitting exactly at the threshold in/out
    avg_bal = c.where(F.col("c_acctbal") > 0).agg(
        exact_avg("c_acctbal", "ab")
    )
    return (
        c.join(F.broadcast(avg_bal))
        .where(F.col("c_acctbal") > F.col("ab"))
        .join(o, c.c_custkey == o.o_custkey, "left_anti")
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            exact_sum("c_acctbal", "totacctbal"),
        )
    )


def q_tpch_q4(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-priority checking (adapted: no commit/receipt dates in fixtures —
    the EXISTS probes for a lineitem shipped >60 days after the order date)."""
    o = load_table(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-04-01").cast("timestamp"))
    )
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    late = o.join(
        li,
        (o.o_orderkey == li.l_orderkey)
        & (li.l_shipdate > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS")),
        "left_semi",
    )
    return late.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("order_count")
    )


def q_tpch_q15(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top supplier(s) by quarterly revenue — aggregate, then keep the max
    via a broadcast one-row join (the classic VIEW + MAX shape)."""
    li = load_table(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp"))
    )
    s = load_table(spark, sf_dir, "supplier")
    rev = li.groupBy("l_suppkey").agg(
        exact_sum(F.col("l_extendedprice") * (1 - F.col("l_discount")), "total_rev")
    )
    mx = rev.agg(F.max("total_rev").alias("mx"))
    return (
        rev.join(F.broadcast(mx))
        .where(F.col("total_rev") == F.col("mx"))
        .join(F.broadcast(s), rev.l_suppkey == s.s_suppkey)
        .select("s_suppkey", "s_name", "total_rev")
    )


def q_tpch_q17(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-quantity-order revenue: lineitems below 20% of their part's
    average quantity. The correlated AVG de-correlates to a pre-aggregation
    re-joined on partkey (grouping on the join key → exchange reuse)."""
    li = load_table(spark, sf_dir, "lineitem").withColumn("l_extendedprice", finite_or_null("l_extendedprice")).withColumn("l_quantity", finite_or_null("l_quantity"))
    p = load_table(spark, sf_dir, "part").where(F.col("p_brand") == "Brand#3")
    # decimal-exact mean so the 0.2×avg threshold is bit-identical in both
    # engines (a float avg's fold order could flip boundary rows)
    avg_qty = li.groupBy(F.col("l_partkey").alias("ap_partkey")).agg(
        (
            F.sum(F.col("l_quantity").cast("decimal(18,6)")).cast("double")
            / F.count(F.lit(1))
            * 0.2
        ).alias("qty_floor")
    )
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(avg_qty, li.l_partkey == F.col("ap_partkey"))
        .where(F.col("l_quantity") < F.col("qty_floor"))
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice").cast("decimal(18,6)")).cast("double")
                / 7.0,
                6,
            ).alias("avg_yearly"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


def _derived_partsupp(li: DataFrame) -> DataFrame:
    """Fixtures ship no partsupp table; derive the supplier-part relation the
    TPC-H queries need from lineitem history: supplycost := the best observed
    unit price for the (part, supplier) pair. MIN over IEEE doubles is exact
    and order-independent, so the raw (unrounded) value is bit-identical in
    both engines and safe to compare/aggregate downstream.

    Scale posture: one groupBy (partkey, suppkey) shuffle over the fact —
    the same shuffle the consuming join needs, so Catalyst reuses the
    exchange when the consumer joins on the same composite key."""
    return li.groupBy(
        F.col("l_partkey").alias("ps_partkey"),
        F.col("l_suppkey").alias("ps_suppkey"),
    ).agg(
        # nullif as in _SQL_PS: a zero-quantity line has no unit cost. A bare
        # division raised ANSI DIVIDE_BY_ZERO whenever the stage ran before
        # AQE could cancel it for an empty join side (fuzz seed 104003)
        F.min(
            F.col("l_extendedprice") / F.nullif(F.col("l_quantity"), F.lit(0.0))
        ).alias("ps_supplycost"),
        F.sum(F.col("l_quantity").cast("decimal(18,6)"))
        .cast("double")
        .alias("ps_qty"),
    )


def q_tpch_q2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Minimum-cost supplier (adapted: partsupp derived from lineitem, the
    region/size/type predicate widened to the fixture value space). The
    correlated MIN de-correlates to a window MIN over partkey on the
    region-filtered pairs (a groupBy-join-back variant replays the pair
    derivation twice — A/B at sf0.1: 2.3 s → 1.7 s) —
    supplier/nation/region/part all broadcast; the only fact-scale
    shuffles are the pair derivation and the partkey window."""
    li = load_table(spark, sf_dir, "lineitem")
    ps = _derived_partsupp(li)
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region").where(F.col("r_name") == "EUROPE")
    p = load_table(spark, sf_dir, "part").where(
        F.col("p_size").between(10, 20) & (F.col("p_type") == "LARGE")
    )
    from pyspark.sql import Window

    eu = (
        ps.join(F.broadcast(s), ps.ps_suppkey == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .select("ps_partkey", "ps_supplycost", "s_name", "s_acctbal", "n_name")
    )
    best = F.min("ps_supplycost").over(Window.partitionBy("ps_partkey"))
    return (
        eu.withColumn("best_cost", best)
        .where(F.col("ps_supplycost") == F.col("best_cost"))
        .join(F.broadcast(p), F.col("ps_partkey") == p.p_partkey)
        .select(
            F.round("s_acctbal", 6).alias("acctbal"),
            "s_name",
            "n_name",
            "p_partkey",
            "p_name",
            F.round("ps_supplycost", 6).alias("supplycost"),
        )
        .orderBy(
            F.col("acctbal").desc(), "n_name", "s_name", "p_partkey"
        )
        .limit(100)
    )


def q_tpch_q9(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-type profit (adapted: supplycost derived in-line): profit per
    supplier nation per order year on color-named parts. supplycost is a
    window MIN over (partkey, suppkey) instead of groupBy-then-join-back —
    one lineitem scan and one pair-keyed shuffle instead of two of each
    (isolated A/B at sf0.1: 2.5 s → 1.1 s, bit-identical results);
    part/supplier/nation broadcast; orders is the one remaining fact-scale
    shuffle (on orderkey)."""
    from pyspark.sql import Window

    li = load_table(spark, sf_dir, "lineitem")
    pair_w = Window.partitionBy("l_partkey", "l_suppkey")
    li = li.withColumn(
        "ps_supplycost",
        # nullif: zero/NULL-quantity lines have no unit cost — they drop
        # from the MIN instead of ANSI DIVIDE_BY_ZERO (r9 hostile edge);
        # oracle mirrors NULLIF(l_quantity, 0)
        F.min(
            F.col("l_extendedprice") / F.nullif(F.col("l_quantity"), F.lit(0.0))
        ).over(pair_w),
    )
    p = load_table(spark, sf_dir, "part").where(F.col("p_name").like("%red%"))
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    o = load_table(spark, sf_dir, "orders")
    # profit involves the division-derived ps_supplycost, so per-row values
    # can land exactly on 6dp halves where the DECIMAL cast's rounding
    # convention differs cross-engine — floor-scaled BIGINT micros instead
    # (same fix as q11; amounts can be negative, so shift via sign-safe
    # floor(x+0.5) which both engines define identically toward -inf)
    amount = F.floor(
        (
            F.col("l_extendedprice") * (1 - F.col("l_discount"))
            - F.col("ps_supplycost") * F.col("l_quantity")
        )
        * F.lit(1000000.0)
        + F.lit(0.5)
    ).cast("bigint")
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").alias("o_year"),
        )
        .agg(
            (F.sum(amount) / F.lit(1000000.0)).alias("sum_profit")
        )
    )


def q_tpch_q11(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Important-stock identification (adapted: stock value := supplycost ×
    all-time shipped quantity from the derived partsupp). Per-part value in
    one region vs a scalar fraction of the regional total — the classic
    HAVING-over-scalar-subquery shape; the scalar folds to a one-row
    broadcast so the plan stays a single fact-scale shuffle."""
    li = load_table(spark, sf_dir, "lineitem").withColumn("l_extendedprice", finite_or_null("l_extendedprice")).withColumn("l_quantity", finite_or_null("l_quantity"))
    ps = _derived_partsupp(li)
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region").where(F.col("r_name") == "EUROPE")
    # val is a product of arbitrary doubles; CAST(val AS DECIMAL(18,6))
    # resolves exact half-way values by engine-specific convention (Spark
    # HALF_UP vs DuckDB), which flipped 2/200 sums by 1e-6 at sf0.001.
    # floor(x*1e6+0.5) on bit-identical doubles is convention-free; the
    # BIGINT sum is then exact and order-independent (round6_stable's
    # aggregate form).
    micros = F.floor(
        F.col("ps_supplycost") * F.col("ps_qty") * F.lit(1000000.0)
        + F.lit(0.5)
    ).cast("bigint")
    de = (
        ps.join(F.broadcast(s), ps.ps_suppkey == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .select("ps_partkey", micros.alias("val_micros"))
    )
    per_part = de.groupBy(F.col("ps_partkey").alias("p_partkey")).agg(
        F.sum("val_micros").alias("micros_sum")
    )
    # threshold scales with the part population (a fixed fraction of the
    # grand total empties out as part count grows — 0 rows at sf0.1):
    # keep parts holding >1.5x the mean per-part stock value. Integer
    # sum / integer count → bit-identical double in both engines.
    # nullif: an EMPTY per_part (fuzzed region table with no EUROPE row)
    # makes count 0 — ANSI raises on NULL/0 where DuckDB answers NULL →
    # 0 rows (fuzz wave-4 seed 104003); NULL threshold filters everything
    # in both engines.
    total = per_part.agg(
        (
            F.sum("micros_sum") / F.nullif(F.count(F.lit(1)), F.lit(0))
            * F.lit(1.5)
        ).alias("threshold_micros")
    )
    return (
        per_part.join(F.broadcast(total))
        .where(F.col("micros_sum") > F.col("threshold_micros"))
        .select(
            "p_partkey",
            (F.col("micros_sum") / F.lit(1000000.0)).alias("stock_value"),
        )
        .orderBy(F.col("stock_value").desc(), "p_partkey")
    )


def q_tpch_q12(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shipping-priority lateness (adapted: no shipmode/commit/receipt dates
    in fixtures — 'late' := shipped >90 days after order date, linestatus
    plays the shipmode role). One fact⋈fact join on orderkey, CASE-sum
    split by order priority."""
    li = load_table(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    o = load_table(spark, sf_dir, "orders")
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .where(
            F.col("l_shipdate")
            > F.col("o_orderdate") + F.expr("INTERVAL 90 DAYS")
        )
        .groupBy("l_linestatus")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            # when(high, 0).otherwise(1), NOT when(~high, 1).otherwise(0):
            # a NULL priority makes ~high NULL, falling to 0 — but the
            # oracle's CASE ... ELSE 1 counts it LOW. The two-way split is
            # total: every row is high or low, unknown priority = low
            # (fuzz gate seed 101005)
            F.sum(F.when(high, 0).otherwise(1)).alias("low_line_count"),
        )
    )


def q_tpch_q16(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parts/supplier relationship (adapted: pairs derived from lineitem,
    complaint suppliers := names ending in 7). Distinct-pair derivation is
    the one fact-scale shuffle; the supplier exclusion is a broadcast anti
    join; COUNT(DISTINCT) groups on low-cardinality (brand,type,size)."""
    li = load_table(spark, sf_dir, "lineitem")
    pairs = li.select("l_partkey", "l_suppkey").distinct()
    p = load_table(spark, sf_dir, "part").where(
        (F.col("p_brand") != "Brand#5")
        & (F.col("p_type") != "PROMO")
        & F.col("p_size").isin(1, 5, 10, 15, 20, 25, 30, 35)
    )
    bad = load_table(spark, sf_dir, "supplier").where(
        F.col("s_name").like("%7")
    )
    return (
        pairs.join(F.broadcast(bad), pairs.l_suppkey == bad.s_suppkey, "left_anti")
        .join(F.broadcast(p), F.col("l_partkey") == p.p_partkey)
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
        .orderBy(
            F.col("supplier_cnt").desc(), "p_brand", "p_type", "p_size"
        )
    )


def q_tpch_q20(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Potential part promotion (adapted: 'excess stock' := 1997 shipped
    quantity for the (part, supplier) pair exceeding half the part's total
    H1-1996 shipments). Two windowed aggregates over the same fact, joined
    on partkey, semi-joined back to suppliers — dims broadcast."""
    li = load_table(spark, sf_dir, "lineitem").withColumn("l_quantity", finite_or_null("l_quantity"))
    half = (
        li.where(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1996-07-01").cast("timestamp"))
        )
        .groupBy(F.col("l_partkey").alias("h_partkey"))
        .agg(
            (
                F.sum(F.col("l_quantity").cast("decimal(18,6)")).cast("double")
                * 0.5
            ).alias("half_qty")
        )
    )
    supp97 = (
        li.where(
            (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
        )
        .groupBy("l_partkey", "l_suppkey")
        .agg(
            F.sum(F.col("l_quantity").cast("decimal(18,6)"))
            .cast("double")
            .alias("qty97")
        )
    )
    p = load_table(spark, sf_dir, "part").where(F.col("p_name").like("%red%"))
    excess = (
        supp97.join(half, F.col("l_partkey") == F.col("h_partkey"))
        .join(F.broadcast(p), F.col("l_partkey") == p.p_partkey)
        .where(F.col("qty97") > F.col("half_qty"))
        .select("l_suppkey")
    )
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region").where(F.col("r_name") == "ASIA")
    return (
        s.join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .join(excess, s.s_suppkey == excess.l_suppkey, "left_semi")
        .select("s_name", "n_name")
        .orderBy("s_name")
    )


def q_tpch_q21(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Suppliers who kept orders waiting (adapted lateness: shipped >60 days
    after order date). The EXISTS/NOT-EXISTS pair becomes a semi join against
    all other-supplier lines and an anti join against other-supplier LATE
    lines, both keyed on orderkey — at scale these co-shuffle with the base
    fact on orderkey, so the three passes share one partitioning."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders").where(F.col("o_orderstatus") == "F")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region").where(F.col("r_name") == "AMERICA")
    late = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .where(
            F.col("l_shipdate")
            > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS")
        )
        .select("l_orderkey", "l_suppkey")
    )
    others = li.select(
        F.col("l_orderkey").alias("o2_orderkey"),
        F.col("l_suppkey").alias("o2_suppkey"),
    )
    late_others = late.select(
        F.col("l_orderkey").alias("o3_orderkey"),
        F.col("l_suppkey").alias("o3_suppkey"),
    )
    l1 = late.join(
        others,
        (F.col("l_orderkey") == F.col("o2_orderkey"))
        & (F.col("l_suppkey") != F.col("o2_suppkey")),
        "left_semi",
    ).join(
        late_others,
        (F.col("l_orderkey") == F.col("o3_orderkey"))
        & (F.col("l_suppkey") != F.col("o3_suppkey")),
        "left_anti",
    )
    return (
        l1.join(F.broadcast(s), l1.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .orderBy(F.col("numwait").desc(), "s_name")
        .limit(100)
    )


QUERIES = {
    "tpch_q1": q_tpch_q1,
    "tpch_q2": q_tpch_q2,
    "tpch_q9": q_tpch_q9,
    "tpch_q11": q_tpch_q11,
    "tpch_q12": q_tpch_q12,
    "tpch_q16": q_tpch_q16,
    "tpch_q20": q_tpch_q20,
    "tpch_q21": q_tpch_q21,
    "tpch_q3": q_tpch_q3,
    "tpch_q5": q_tpch_q5,
    "tpch_q8": q_tpch_q8,
    "tpch_q6": q_tpch_q6,
    "tpch_q10": q_tpch_q10,
    "tpch_q14": q_tpch_q14,
    "tpch_q18": q_tpch_q18,
    "tpch_q7": q_tpch_q7,
    "tpch_q13": q_tpch_q13,
    "tpch_q19": q_tpch_q19,
    "tpch_q22": q_tpch_q22,
    "tpch_q4": q_tpch_q4,
    "tpch_q15": q_tpch_q15,
    "tpch_q17": q_tpch_q17,
}

_SQL_PS = """
  SELECT l_partkey AS ps_partkey, l_suppkey AS ps_suppkey,
         MIN(l_extendedprice / NULLIF(l_quantity, 0)) AS ps_supplycost,
         CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) AS ps_qty
  FROM lineitem GROUP BY 1, 2
"""

ORACLES = {
    "tpch_q2": f"""
WITH ps AS ({_SQL_PS}),
eu AS (
  SELECT ps_partkey, ps_supplycost, s_name, s_acctbal, n_name
  FROM ps JOIN supplier ON ps_suppkey = s_suppkey
  JOIN nation ON s_nationkey = n_nationkey
  JOIN region ON n_regionkey = r_regionkey
  WHERE r_name = 'EUROPE'
)
SELECT ROUND(s_acctbal, 6) AS acctbal, s_name, n_name, p_partkey, p_name,
       ROUND(ps_supplycost, 6) AS supplycost
FROM eu JOIN part ON ps_partkey = p_partkey
WHERE p_size BETWEEN 10 AND 20 AND p_type = 'LARGE'
  AND ps_supplycost = (SELECT MIN(e2.ps_supplycost) FROM eu e2
                       WHERE e2.ps_partkey = eu.ps_partkey)
ORDER BY acctbal DESC, n_name, s_name, p_partkey
LIMIT 100
""",
    "tpch_q9": f"""
WITH ps AS ({_SQL_PS})
SELECT n_name AS nation, CAST(year(o_orderdate) AS INT) AS o_year,
       CAST(SUM(CAST(floor((l_extendedprice * (1 - l_discount)
                  - ps_supplycost * l_quantity) * 1000000.0 + 0.5) AS BIGINT))
            AS DOUBLE) / 1000000.0 AS sum_profit
FROM lineitem
JOIN ps ON l_partkey = ps_partkey AND l_suppkey = ps_suppkey
JOIN part ON l_partkey = p_partkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation ON s_nationkey = n_nationkey
JOIN orders ON l_orderkey = o_orderkey
WHERE p_name LIKE '%red%'
GROUP BY n_name, year(o_orderdate)
""",
    "tpch_q11": f"""
WITH ps AS ({_SQL_PS}),
de AS (
  SELECT ps_partkey,
         CAST(floor(ps_supplycost * ps_qty * 1000000.0 + 0.5) AS BIGINT)
           AS val_micros
  FROM ps JOIN supplier ON ps_suppkey = s_suppkey
  JOIN nation ON s_nationkey = n_nationkey
  JOIN region ON n_regionkey = r_regionkey
  WHERE r_name = 'EUROPE'
),
per_part AS (
  SELECT ps_partkey AS p_partkey, SUM(val_micros) AS micros_sum
  FROM de GROUP BY ps_partkey
)
SELECT p_partkey, CAST(micros_sum AS DOUBLE) / 1000000.0 AS stock_value
FROM per_part
WHERE CAST(micros_sum AS DOUBLE)
      > (SELECT CAST(SUM(micros_sum) AS DOUBLE) / COUNT(*) * 1.5 FROM per_part)
""",
    "tpch_q12": """
SELECT l_linestatus,
       CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH') THEN 1 ELSE 0 END)
            AS BIGINT) AS high_line_count,
       CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH') THEN 0 ELSE 1 END)
            AS BIGINT) AS low_line_count
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
  AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
  AND l_shipdate > o_orderdate + INTERVAL 90 DAY
GROUP BY l_linestatus
""",
    "tpch_q16": """
WITH pairs AS (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem)
SELECT p_brand, p_type, p_size, COUNT(DISTINCT l_suppkey) AS supplier_cnt
FROM pairs
JOIN part ON l_partkey = p_partkey
WHERE p_brand <> 'Brand#5' AND p_type <> 'PROMO'
  AND p_size IN (1, 5, 10, 15, 20, 25, 30, 35)
  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_name LIKE '%7')
GROUP BY p_brand, p_type, p_size
""",
    "tpch_q20": """
WITH half AS (
  SELECT l_partkey AS h_partkey,
         CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) * 0.5 AS half_qty
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
    AND l_shipdate < TIMESTAMP '1996-07-01 00:00:00'
  GROUP BY l_partkey
),
supp97 AS (
  SELECT l_partkey, l_suppkey,
         CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) AS qty97
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
    AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
  GROUP BY l_partkey, l_suppkey
)
SELECT s_name, n_name
FROM supplier JOIN nation ON s_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA'
  AND s_suppkey IN (
    SELECT l_suppkey FROM supp97
    JOIN half ON l_partkey = h_partkey
    JOIN part ON l_partkey = p_partkey
    WHERE p_name LIKE '%red%' AND qty97 > half_qty
  )
""",
    "tpch_q21": """
SELECT s_name, COUNT(*) AS numwait
FROM lineitem l1
JOIN orders ON l1.l_orderkey = o_orderkey
JOIN supplier ON l1.l_suppkey = s_suppkey
JOIN nation ON s_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
WHERE o_orderstatus = 'F' AND r_name = 'AMERICA'
  AND l1.l_shipdate > o_orderdate + INTERVAL 60 DAY
  AND EXISTS (SELECT 1 FROM lineitem l2
              WHERE l2.l_orderkey = l1.l_orderkey
                AND l2.l_suppkey <> l1.l_suppkey)
  AND NOT EXISTS (SELECT 1 FROM lineitem l3
                  JOIN orders o3 ON l3.l_orderkey = o3.o_orderkey
                  WHERE l3.l_orderkey = l1.l_orderkey
                    AND l3.l_suppkey <> l1.l_suppkey
                    AND l3.l_shipdate > o3.o_orderdate + INTERVAL 60 DAY)
GROUP BY s_name
ORDER BY numwait DESC, s_name
LIMIT 100
""",
    "tpch_q1": f"""
SELECT l_returnflag, l_linestatus,
       {sql_exact_sum('l_quantity')} AS sum_qty,
       {sql_exact_sum('l_extendedprice')} AS sum_base_price,
       {sql_exact_sum('l_extendedprice * (1 - l_discount)')} AS sum_disc_price,
       {sql_exact_sum('l_extendedprice * (1 - l_discount) * (1 + l_tax)')} AS sum_charge,
       {sql_exact_avg('l_quantity')} AS avg_qty,
       {sql_exact_avg('l_extendedprice')} AS avg_price,
       {sql_exact_avg('l_discount')} AS avg_disc,
       COUNT(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '{_CUTOFF} 00:00:00'
GROUP BY l_returnflag, l_linestatus
""",
    "tpch_q3": f"""
SELECT l_orderkey, CAST(o_orderdate AS DATE) AS o_date,
       {sql_exact_sum('l_extendedprice * (1 - l_discount)')} AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1998-03-15 00:00:00'
  AND l_shipdate > TIMESTAMP '1998-03-15 00:00:00'
GROUP BY l_orderkey, CAST(o_orderdate AS DATE)
ORDER BY revenue DESC, l_orderkey
LIMIT 10
""",
    "tpch_q5": f"""
SELECT n_name,
       {sql_exact_sum('l_extendedprice * (1 - l_discount)')} AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA'
  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
GROUP BY n_name
""",
    "tpch_q8": """
WITH vol AS (
  SELECT CAST(year(o_orderdate) AS INT) AS o_year,
         CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6)) AS volume,
         n2.n_name AS nation
  FROM lineitem
  JOIN part ON l_partkey = p_partkey AND p_type = 'STANDARD'
  JOIN orders ON l_orderkey = o_orderkey
   AND o_orderdate >= TIMESTAMP '1995-01-01 00:00:00'
   AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
  JOIN customer ON o_custkey = c_custkey
  JOIN nation n1 ON c_nationkey = n1.n_nationkey
  JOIN region ON n1.n_regionkey = r_regionkey AND r_name = 'AMERICA'
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation n2 ON s_nationkey = n2.n_nationkey
)
SELECT o_year,
       ROUND(CAST(SUM(CASE WHEN nation = 'NATION_6' THEN volume ELSE 0 END)
                  / SUM(volume) AS DOUBLE), 6) AS mkt_share
FROM vol GROUP BY o_year
""",
    "tpch_q6": f"""
SELECT {sql_exact_sum('l_extendedprice * l_discount')} AS revenue,
       COUNT(*) AS n_items
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
  AND l_discount BETWEEN 0.05 AND 0.07
  AND l_quantity < 24
""",
    "tpch_q10": f"""
SELECT c_custkey, c_name, n_name,
       {sql_exact_sum('l_extendedprice * (1 - l_discount)')} AS revenue,
       ROUND(MAX(c_acctbal), 6) AS acctbal
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
WHERE l_returnflag = 'R'
  AND o_orderdate >= TIMESTAMP '1996-10-01 00:00:00'
  AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
GROUP BY c_custkey, c_name, n_name
ORDER BY revenue DESC, c_custkey
LIMIT 20
""",
    "tpch_q14": """
SELECT ROUND(CAST(
         100.0 * SUM(CASE WHEN p_type = 'PROMO'
                          THEN CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))
                          ELSE 0 END)
             / SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6)))
       AS DOUBLE), 6) AS promo_revenue_pct
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE l_shipdate >= TIMESTAMP '1996-09-01 00:00:00'
  AND l_shipdate < TIMESTAMP '1996-10-01 00:00:00'
""",
    "tpch_q18": f"""
SELECT c_custkey, c_name, o_orderkey,
       CAST(o_orderdate AS DATE) AS o_date,
       ROUND(o_totalprice, 6) AS price, total_qty
FROM (
  SELECT l_orderkey, {sql_exact_sum('l_quantity')} AS total_qty
  FROM lineitem GROUP BY l_orderkey
  HAVING {sql_exact_sum('l_quantity')} > 180
) big
JOIN orders ON big.l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
ORDER BY total_qty DESC, o_orderkey
LIMIT 100
""",
    "tpch_q7": f"""
SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
       CAST(year(l_shipdate) AS INT) AS l_year,
       {sql_exact_sum('l_extendedprice * (1 - l_discount)')} AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation n1 ON s_nationkey = n1.n_nationkey
JOIN nation n2 ON c_nationkey = n2.n_nationkey
WHERE (n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
   OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1')
GROUP BY n1.n_name, n2.n_name, year(l_shipdate)
""",
    "tpch_q13": """
SELECT c_count, COUNT(*) AS custdist
FROM (
  SELECT c_custkey, COUNT(o_orderkey) AS c_count
  FROM customer LEFT JOIN orders
    ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
  GROUP BY c_custkey
)
GROUP BY c_count
""",
    "tpch_q19": f"""
SELECT {sql_exact_sum('l_extendedprice * (1 - l_discount)')} AS revenue,
       COUNT(*) AS n_items
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE ((p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 1 AND 11)
    OR (p_brand = 'Brand#2' AND p_size BETWEEN 1 AND 25 AND l_quantity BETWEEN 10 AND 20)
    OR (p_type = 'PROMO' AND p_size BETWEEN 1 AND 35 AND l_quantity BETWEEN 20 AND 30))
  AND l_discount > 0.01
""",
    "tpch_q22": f"""
SELECT c_mktsegment,
       COUNT(*) AS numcust,
       {sql_exact_sum('c_acctbal')} AS totacctbal
FROM customer c
WHERE c_acctbal > (SELECT {sql_exact_avg('c_acctbal')} FROM customer WHERE c_acctbal > 0)
  AND NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey
                  AND o.o_orderdate >= TIMESTAMP '2000-01-01 00:00:00')
GROUP BY c_mktsegment
""",
    "tpch_q4": """
SELECT o_orderpriority, COUNT(*) AS order_count
FROM orders o
WHERE o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
  AND o_orderdate < TIMESTAMP '1997-04-01 00:00:00'
  AND EXISTS (
    SELECT 1 FROM lineitem l
    WHERE l.l_orderkey = o.o_orderkey
      AND l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY
  )
GROUP BY o_orderpriority
""",
    "tpch_q15": f"""
WITH rev AS (
  SELECT l_suppkey,
         {sql_exact_sum('l_extendedprice * (1 - l_discount)')} AS total_rev
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
    AND l_shipdate < TIMESTAMP '1996-04-01 00:00:00'
  GROUP BY l_suppkey
)
SELECT s_suppkey, s_name, total_rev
FROM rev JOIN supplier ON l_suppkey = s_suppkey
WHERE total_rev = (SELECT MAX(total_rev) FROM rev)
""",
    "tpch_q17": """
SELECT ROUND(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE) / 7.0, 6)
         AS avg_yearly,
       COUNT(*) AS n_items
FROM lineitem
JOIN part ON l_partkey = p_partkey
WHERE p_brand = 'Brand#3'
  AND l_quantity < (
    SELECT CAST(SUM(CAST(i.l_quantity AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*) * 0.2
    FROM lineitem i WHERE i.l_partkey = lineitem.l_partkey
  )
""",
}

# fuzz wave-3 non-finite policy (see operators/analytics.py tail note):
# quantized/decimal measure paths exclude NaN/Inf like NULLs, in both
# engines, via finite_or_null on the Spark side and the * REPLACE
# isfinite rewrite here.
ORACLES["tpch_q11"] = ORACLES["tpch_q11"].replace(
    "FROM lineitem", "FROM (SELECT * REPLACE ((CASE WHEN isfinite(l_extendedprice) THEN l_extendedprice END) AS l_extendedprice, (CASE WHEN isfinite(l_quantity) THEN l_quantity END) AS l_quantity) FROM lineitem)")
ORACLES["tpch_q20"] = ORACLES["tpch_q20"].replace(
    "FROM lineitem", "FROM (SELECT * REPLACE ((CASE WHEN isfinite(l_quantity) THEN l_quantity END) AS l_quantity) FROM lineitem)")

# fuzz wave-3 non-finite policy, batch 3 (seeds 103003/103004): beyond the
# quantized-sum class, THRESHOLD COMPARISONS on measure doubles are also
# non-finite-hostile — Spark's parquet filter pushdown silently DROPS NaN
# rows for `>` predicates while its in-memory evaluator KEEPS them (probed:
# same where() returns [] pushed vs [NaN rows] with filterPushdown=false),
# and DuckDB keeps NaN (total order). finite_or_null makes NaN/Inf missing
# on both sides, independent of which layer evaluates the predicate.
ORACLES["tpch_q14"] = ORACLES["tpch_q14"].replace(
    "FROM lineitem", "FROM (SELECT * REPLACE ((CASE WHEN isfinite(l_extendedprice) THEN l_extendedprice END) AS l_extendedprice, (CASE WHEN isfinite(l_discount) THEN l_discount END) AS l_discount) FROM lineitem)")

# fuzz wave-3 batch 4 (seeds 103005/103006): same non-finite policy.
# q17's correlated subquery references the OUTER table by name
# (lineitem.l_partkey), so the outer rewrite must keep the alias; the
# inner scan carries its own `i` alias already.
ORACLES["tpch_q17"] = ORACLES["tpch_q17"].replace(
    "FROM lineitem\nJOIN part", "FROM (SELECT * REPLACE ((CASE WHEN isfinite(l_extendedprice) THEN l_extendedprice END) AS l_extendedprice, (CASE WHEN isfinite(l_quantity) THEN l_quantity END) AS l_quantity) FROM lineitem) lineitem\nJOIN part").replace(
    "FROM lineitem i", "FROM (SELECT * REPLACE ((CASE WHEN isfinite(l_extendedprice) THEN l_extendedprice END) AS l_extendedprice, (CASE WHEN isfinite(l_quantity) THEN l_quantity END) AS l_quantity) FROM lineitem) i")
