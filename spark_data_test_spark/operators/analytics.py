"""Additional TPC-H-shaped analytics queries (bench/coverage depth).

Adaptations of Q6/Q10/Q14/Q18 to the testdata star schema, all under
the cross-engine determinism rules (cents sums, tie-broken top-k,
broadcast dimensions).
"""

import pyspark.sql.functions as F
from pyspark.sql import Window

from spark_data_test_spark.operators.relational import cents, query, t
from spark_data_test_spark.utils.spark_utils import bucket_pairs


@query(
    "tpch_q6_forecast_revenue",
    """
    SELECT CAST(SUM(CAST(ROUND(l_extendedprice * l_discount * 100) AS BIGINT))
             AS BIGINT) AS revenue_cents,
           COUNT(*) AS n
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24
    """,
)
def tpch_q6_forecast_revenue(spark, sf_dir):
    """Q6 shape: pure scan + conjunctive pushed filters + global agg —
    the canonical predicate-pushdown benchmark."""
    li = t(spark, sf_dir, "lineitem")
    return (
        li.where(
            (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01 00:00:00").cast("timestamp"))
            & F.col("l_discount").between(0.05, 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.sum(cents(F.col("l_extendedprice") * F.col("l_discount"))).alias(
                "revenue_cents"
            ),
            F.count("*").alias("n"),
        )
    )


@query(
    "tpch_q10_returned_items",
    """
    SELECT c.c_custkey, c.c_name,
           CAST(SUM(CAST(ROUND(l.l_extendedprice * (1 - l.l_discount) * 100)
                         AS BIGINT)) AS BIGINT) AS revenue_cents,
           n.n_name
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    WHERE l.l_returnflag = 'R'
    GROUP BY c.c_custkey, c.c_name, n.n_name
    ORDER BY revenue_cents DESC, c_custkey LIMIT 20
    """,
)
def tpch_q10_returned_items(spark, sf_dir):
    """Q10 shape: who returned the most revenue — fact join + two
    broadcast dimensions + grouped top-k."""
    c = t(spark, sf_dir, "customer")
    o = t(spark, sf_dir, "orders")
    li = t(spark, sf_dir, "lineitem").where(F.col("l_returnflag") == "R")
    n = t(spark, sf_dir, "nation")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(
            F.sum(
                cents(F.col("l_extendedprice") * (1 - F.col("l_discount")))
            ).alias("revenue_cents")
        )
        .select("c_custkey", "c_name", "revenue_cents", "n_name")
        .orderBy(F.col("revenue_cents").desc(), "c_custkey")
        .limit(20)
    )


@query(
    "tpch_q14_promo_share",
    """
    SELECT CAST(SUM(CASE WHEN p.p_type LIKE 'PROMO%'
                    THEN CAST(ROUND(l.l_extendedprice * (1 - l.l_discount) * 100) AS BIGINT)
                    ELSE 0 END) AS BIGINT) AS promo_cents,
           CAST(SUM(CAST(ROUND(l.l_extendedprice * (1 - l.l_discount) * 100)
                         AS BIGINT)) AS BIGINT) AS total_cents
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    """,
)
def tpch_q14_promo_share(spark, sf_dir):
    """Q14 shape: conditional share of revenue over a broadcast part
    join (exact integer numerator/denominator; consumers derive the
    ratio)."""
    li = t(spark, sf_dir, "lineitem")
    p = t(spark, sf_dir, "part")
    rev = cents(F.col("l_extendedprice") * (1 - F.col("l_discount")))
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .agg(
            F.sum(
                F.when(F.col("p_type").startswith("PROMO"), rev).otherwise(0)
            ).alias("promo_cents"),
            F.sum(rev).alias("total_cents"),
        )
    )


@query(
    "tpch_q18_large_orders",
    """
    SELECT o.o_orderkey, o.o_custkey,
           CAST(ROUND(SUM(l.l_quantity) * 100) AS BIGINT) AS qty_cents
    FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    GROUP BY o.o_orderkey, o.o_custkey
    HAVING SUM(l.l_quantity) > 300
    """,
)
def tpch_q18_large_orders(spark, sf_dir):
    """Q18 shape: HAVING over a grouped fact-fact join (quantities are
    integral doubles, so the post-agg rounding is exact)."""
    o = t(spark, sf_dir, "orders")
    li = t(spark, sf_dir, "lineitem")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy("o_orderkey", "o_custkey")
        .agg(F.sum("l_quantity").alias("_qty"))
        .where(F.col("_qty") > 300)
        .select(
            "o_orderkey",
            "o_custkey",
            F.round(F.col("_qty") * 100).cast("long").alias("qty_cents"),
        )
    )


@query(
    "tpch_q4_priority_check",
    """
    SELECT o_orderpriority, COUNT(*) AS order_count
    FROM orders o
    WHERE EXISTS (
      SELECT 1 FROM lineitem l
      WHERE l.l_orderkey = o.o_orderkey
        AND l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY)
    GROUP BY o_orderpriority
    """,
)
def tpch_q4_priority_check(spark, sf_dir):
    """Q4 shape: existential subquery as a LEFT SEMI join — one shuffle,
    no row multiplication from multi-lineitem orders (the trap a plain
    inner join + distinct would hit). Adapted predicate: a line shipped
    more than 60 days after the order date ("late shipment")."""
    o = t(spark, sf_dir, "orders")
    li = t(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    late = o.join(
        li,
        (li.l_orderkey == o.o_orderkey)
        & (li.l_shipdate > F.col("o_orderdate") + F.expr("INTERVAL 60 DAY")),
        "left_semi",
    )
    return late.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("order_count")
    )


@query(
    "tpch_q12_priority_bands",
    """
    SELECT qty_band,
           CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
    FROM (
      SELECT CASE WHEN l.l_quantity < 10 THEN 'small'
                  WHEN l.l_quantity < 30 THEN 'medium'
                  ELSE 'large' END AS qty_band,
             o.o_orderpriority
      FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey)
    GROUP BY qty_band
    """,
)
def tpch_q12_priority_bands(spark, sf_dir):
    """Q12 shape: fact-fact join + conditional counts per band in ONE
    aggregation pass (the reference's multi-column conditional-sum
    pattern, A3). Adapted dimension: quantity bands stand in for the
    ship modes the slim schema lacks."""
    li = t(spark, sf_dir, "lineitem")
    o = t(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority")
    band = (
        F.when(F.col("l_quantity") < 10, "small")
        .when(F.col("l_quantity") < 30, "medium")
        .otherwise("large")
    )
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .select(band.alias("qty_band"), "o_orderpriority")
        .groupBy("qty_band")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(~high, 1).otherwise(0)).alias("low_line_count"),
        )
    )


@query(
    "tpch_q13_order_distribution",
    """
    SELECT c_count, COUNT(*) AS custdist
    FROM (
      SELECT c.c_custkey, COUNT(o.o_orderkey) AS c_count
      FROM customer c
      LEFT JOIN orders o
        ON c.c_custkey = o.o_custkey AND o.o_orderpriority <> '5-LOW'
      GROUP BY c.c_custkey)
    GROUP BY c_count
    """,
)
def tpch_q13_order_distribution(spark, sf_dir):
    """Q13 shape: two-level aggregation over an outer join with a join-
    side predicate — customers with zero qualifying orders must appear
    in the c_count=0 bucket, which an inner join would silently drop
    (COUNT of a NULL join column is the 0-preserving trick in both
    engines)."""
    c = t(spark, sf_dir, "customer").select("c_custkey")
    o = (
        t(spark, sf_dir, "orders")
        .where(F.col("o_orderpriority") != "5-LOW")
        .select("o_custkey", "o_orderkey")
    )
    per_cust = (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(F.count(F.lit(1)).alias("custdist"))


@query(
    "tpch_q19_disjunctive_revenue",
    """
    SELECT CAST(SUM(CAST(ROUND(l.l_extendedprice * (1 - l.l_discount) * 100)
                         AS BIGINT)) AS BIGINT) AS revenue_cents,
           COUNT(*) AS n
    FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    WHERE (p.p_brand = 'Brand#1' AND p.p_size BETWEEN 1 AND 15
           AND l.l_quantity BETWEEN 1 AND 15)
       OR (p.p_brand = 'Brand#2' AND p.p_size BETWEEN 10 AND 30
           AND l.l_quantity BETWEEN 10 AND 25)
       OR (p.p_brand = 'Brand#3' AND p.p_size BETWEEN 20 AND 50
           AND l.l_quantity BETWEEN 20 AND 35)
    """,
)
def tpch_q19_disjunctive_revenue(spark, sf_dir):
    """Q19 shape: OR-of-ANDs spanning both join sides. Catalyst splits
    the disjunction: the part-only prefix (brand+size bands) pushes to
    the broadcast side's scan, the mixed residual evaluates post-join —
    the plan to check is that the part scan shows PushedFilters, not a
    bare full scan."""
    li = t(spark, sf_dir, "lineitem")
    p = t(spark, sf_dir, "part")
    cond = (
        (
            (F.col("p_brand") == "Brand#1")
            & F.col("p_size").between(1, 15)
            & F.col("l_quantity").between(1, 15)
        )
        | (
            (F.col("p_brand") == "Brand#2")
            & F.col("p_size").between(10, 30)
            & F.col("l_quantity").between(10, 25)
        )
        | (
            (F.col("p_brand") == "Brand#3")
            & F.col("p_size").between(20, 50)
            & F.col("l_quantity").between(20, 35)
        )
    )
    return (
        li.join(F.broadcast(p), p.p_partkey == li.l_partkey)
        .where(cond)
        .agg(
            F.sum(
                cents(F.col("l_extendedprice") * (1 - F.col("l_discount")))
            ).alias("revenue_cents"),
            F.count("*").alias("n"),
        )
    )


@query(
    "tpch_q7_nation_volume",
    """
    SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
           YEAR(l.l_shipdate) AS ship_year,
           CAST(SUM(CAST(ROUND(l.l_extendedprice * (1 - l.l_discount) * 100)
                         AS BIGINT)) AS BIGINT) AS revenue_cents
    FROM lineitem l
    JOIN supplier s ON s.s_suppkey = l.l_suppkey
    JOIN orders o   ON o.o_orderkey = l.l_orderkey
    JOIN customer c ON c.c_custkey = o.o_custkey
    JOIN nation sn  ON sn.n_nationkey = s.s_nationkey
    JOIN nation cn  ON cn.n_nationkey = c.c_nationkey
    WHERE ((sn.n_name = 'NATION_18' AND cn.n_name = 'NATION_19')
        OR (sn.n_name = 'NATION_19' AND cn.n_name = 'NATION_18'))
    GROUP BY sn.n_name, cn.n_name, YEAR(l.l_shipdate)
    """,
)
def tpch_q7_nation_volume(spark, sf_dir):
    """Q7 shape: trade volume between two nations in both directions —
    a five-way join where every dimension (supplier, customer, both
    nation legs) broadcasts and only the lineitem-orders fact-fact join
    shuffles; the nation filter prunes before the fact join."""
    li = t(spark, sf_dir, "lineitem")
    s = t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    o = t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    c = t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n = t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    sn = n.select(
        F.col("n_nationkey").alias("s_nk"), F.col("n_name").alias("supp_nation")
    )
    cn = n.select(
        F.col("n_nationkey").alias("c_nk"), F.col("n_name").alias("cust_nation")
    )
    pair = (
        ((F.col("supp_nation") == "NATION_18") & (F.col("cust_nation") == "NATION_19"))
        | ((F.col("supp_nation") == "NATION_19") & (F.col("cust_nation") == "NATION_18"))
    )
    return (
        li.join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(sn), F.col("s_nationkey") == F.col("s_nk"))
        .join(F.broadcast(cn), F.col("c_nationkey") == F.col("c_nk"))
        .where(pair)
        .groupBy("supp_nation", "cust_nation", F.year("l_shipdate").alias("ship_year"))
        .agg(
            F.sum(
                cents(F.col("l_extendedprice") * (1 - F.col("l_discount")))
            ).alias("revenue_cents")
        )
    )


@query(
    "tpch_q15_top_supplier",
    """
    WITH revenue AS (
      SELECT l_suppkey AS supplier_no,
             CAST(SUM(CAST(ROUND(l_extendedprice * (1 - l_discount) * 100)
                           AS BIGINT)) AS BIGINT) AS total_revenue_cents
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        AND l_shipdate <  TIMESTAMP '1996-04-01 00:00:00'
      GROUP BY l_suppkey)
    SELECT s.s_suppkey, s.s_name, r.total_revenue_cents
    FROM supplier s JOIN revenue r ON s.s_suppkey = r.supplier_no
    WHERE r.total_revenue_cents = (SELECT MAX(total_revenue_cents) FROM revenue)
    """,
)
def tpch_q15_top_supplier(spark, sf_dir):
    """Q15 shape: max-over-aggregate. The scalar MAX is a broadcast
    1-row frame compared against the per-supplier aggregate — NOT an
    unpartitioned rank window, which would shuffle every supplier row
    onto a single task (the classic global-window scalability trap).
    Ties all surface, same as the reference query's = MAX semantics.
    """
    li = t(spark, sf_dir, "lineitem")
    rev = (
        li.where(
            (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1996-04-01 00:00:00").cast("timestamp"))
        )
        .groupBy(F.col("l_suppkey").alias("supplier_no"))
        .agg(
            F.sum(
                cents(F.col("l_extendedprice") * (1 - F.col("l_discount")))
            ).alias("total_revenue_cents")
        )
    )
    mx = rev.agg(F.max("total_revenue_cents").alias("mx"))
    top = rev.crossJoin(F.broadcast(mx)).where(
        F.col("total_revenue_cents") == F.col("mx")
    )
    s = t(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        top.join(F.broadcast(s), top.supplier_no == s.s_suppkey)
        .select("s_suppkey", "s_name", "total_revenue_cents")
    )


@query(
    "tpch_q17_small_quantity_revenue",
    """
    SELECT CAST(SUM(CAST(ROUND(l.l_extendedprice * 100) AS BIGINT)) AS BIGINT)
             AS revenue_cents,
           COUNT(*) AS n
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey
    WHERE p.p_brand = 'Brand#3'
      AND l.l_quantity < (
        SELECT 0.2 * AVG(l2.l_quantity) FROM lineitem l2
        WHERE l2.l_partkey = l.l_partkey)
    """,
)
def tpch_q17_small_quantity_revenue(spark, sf_dir):
    """Q17 shape: correlated scalar subquery (per-part average) —
    de-correlated into a per-part aggregate joined back, so the whole
    query is two hash aggregates and two joins instead of a re-executed
    subquery per row. avg(quantity) is sum/count of integral doubles:
    both engines compute the identical double division on identical
    operands, and 0.2 * avg is one more shared op."""
    li = t(spark, sf_dir, "lineitem")
    p = t(spark, sf_dir, "part").where(F.col("p_brand") == "Brand#3").select(
        "p_partkey"
    )
    # restrict BEFORE aggregating: the per-part averages are only ever
    # consumed for Brand#3 parts (~4% of the part space), and Catalyst
    # can't push the restriction below the aggregate by itself — the
    # semi-join keeps every lineitem of the relevant parts, so the
    # averages are identical to the full-table formulation
    li_brand = li.join(F.broadcast(p), li.l_partkey == p.p_partkey, "left_semi")
    part_avg = li_brand.groupBy(F.col("l_partkey").alias("avg_partkey")).agg(
        F.avg("l_quantity").alias("avg_qty")
    )
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(part_avg, li.l_partkey == part_avg.avg_partkey)
        .where(F.col("l_quantity") < 0.2 * F.col("avg_qty"))
        .agg(
            F.sum(cents(F.col("l_extendedprice"))).alias("revenue_cents"),
            F.count("*").alias("n"),
        )
    )


@query(
    "tpch_q22_global_sales_opportunity",
    """
    WITH pos AS (
      SELECT CAST(SUM(CAST(ROUND(c_acctbal * 100) AS BIGINT)) AS BIGINT) AS total_c,
             COUNT(*) AS n
      FROM customer WHERE c_acctbal > 0.0),
    wealthy AS (
      SELECT c_custkey, c_nationkey % 5 AS cc,
             CAST(ROUND(c_acctbal * 100) AS BIGINT) AS bal_cents
      FROM customer, pos
      WHERE CAST(ROUND(c_acctbal * 100) AS BIGINT) * n > total_c)
    SELECT cc, COUNT(*) AS numcust,
           CAST(SUM(bal_cents) AS BIGINT) AS totacctbal_cents
    FROM wealthy w
    WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = w.c_custkey
                  AND o.o_orderdate >= TIMESTAMP '2000-06-01 00:00:00')
    GROUP BY cc
    """,
)
def tpch_q22_global_sales_opportunity(spark, sf_dir):
    """Q22 shape: uncorrelated scalar subquery (global above-average
    test, computed once and broadcast as a 1-row frame) + anti join
    (customers with no RECENT orders — the anti-join build side is
    date-filtered before the join, so the filter prunes its scan) +
    grouped aggregate. The above-average comparison is EXACT integer
    arithmetic: ``bal > total/n`` becomes ``bal_cents * n > total_cents``
    — a raw-double AVG threshold would be partial-aggregation-order
    dependent and could flip borderline customers between engines
    (the project's never-aggregate-raw-doubles rule). The adapted
    "country code" is nationkey mod 5."""
    c = t(spark, sf_dir, "customer")
    pos_stats = c.where(F.col("c_acctbal") > 0.0).agg(
        F.sum(cents(F.col("c_acctbal"))).alias("total_c"),
        F.count(F.lit(1)).alias("n"),
    )
    wealthy = (
        c.crossJoin(F.broadcast(pos_stats))
        .where(cents(F.col("c_acctbal")) * F.col("n") > F.col("total_c"))
        .select(
            "c_custkey",
            (F.col("c_nationkey") % 5).alias("cc"),
            cents(F.col("c_acctbal")).alias("bal_cents"),
        )
    )
    o = (
        t(spark, sf_dir, "orders")
        .where(
            F.col("o_orderdate") >= F.lit("2000-06-01 00:00:00").cast("timestamp")
        )
        .select("o_custkey")
    )
    return (
        wealthy.join(o, wealthy.c_custkey == o.o_custkey, "left_anti")
        .groupBy("cc")
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            F.sum("bal_cents").alias("totacctbal_cents"),
        )
    )


_RFM_ANCHOR = "2001-09-01 00:00:00"  # analysis date, just past max(o_orderdate)
_RFM_DAY_US = 86_400_000_000


@query(
    "orders_rfm_segments",
    f"""
    WITH per_cust AS (
      SELECT o_custkey,
             (epoch_us(TIMESTAMP '{_RFM_ANCHOR}') - epoch_us(MAX(o_orderdate)))
               // {_RFM_DAY_US} AS r_days,
             COUNT(*) AS freq,
             CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS m_cents
      FROM orders GROUP BY o_custkey),
    scored AS (
      SELECT CASE WHEN r_days <= 180 THEN 4 WHEN r_days <= 365 THEN 3
                  WHEN r_days <= 730 THEN 2 ELSE 1 END AS r_score,
             CASE WHEN freq >= 15 THEN 4 WHEN freq >= 10 THEN 3
                  WHEN freq >= 5 THEN 2 ELSE 1 END AS f_score,
             CASE WHEN m_cents >= 400000000 THEN 4
                  WHEN m_cents >= 250000000 THEN 3
                  WHEN m_cents >= 100000000 THEN 2 ELSE 1 END AS m_score,
             m_cents
      FROM per_cust)
    SELECT r_score, f_score, m_score, COUNT(*) AS n_customers,
           CAST(SUM(m_cents) AS BIGINT) AS m_cents_total
    FROM scored GROUP BY r_score, f_score, m_score
    """,
)
def orders_rfm_segments(spark, sf_dir):
    """RFM customer segmentation: per-customer recency (days since last
    order at a fixed anchor date), frequency (order count), and
    monetary (lifetime cents), each banded 1-4 against FIXED business
    thresholds, then the segment grid is aggregated.

    Fixed bands instead of ntile-quartiles is a scale decision, not a
    shortcut: a global ntile needs a total order over all customers
    (single-partition window — the classic driver-killer), while fixed
    thresholds keep the whole query two map-side-combinable hash
    aggregates (customer, then the <= 64-cell segment grid) with zero
    sorts. Recency arithmetic is integer epoch-microsecond floor
    division, monetary is integer cents — both engines agree
    bit-for-bit."""
    o = t(spark, sf_dir, "orders")
    per_cust = o.groupBy("o_custkey").agg(
        F.expr(
            f"(unix_micros(timestamp'{_RFM_ANCHOR}') - unix_micros(max(o_orderdate)))"
            f" div {_RFM_DAY_US}"
        ).alias("r_days"),
        F.count(F.lit(1)).alias("freq"),
        F.sum(cents(F.col("o_totalprice"))).alias("m_cents"),
    )
    band = lambda c, b4, b3, b2: (
        F.when(c >= b4, 4).when(c >= b3, 3).when(c >= b2, 2).otherwise(1)
    )
    scored = per_cust.select(
        F.when(F.col("r_days") <= 180, 4)
        .when(F.col("r_days") <= 365, 3)
        .when(F.col("r_days") <= 730, 2)
        .otherwise(1)
        .alias("r_score"),
        band(F.col("freq"), 15, 10, 5).alias("f_score"),
        band(F.col("m_cents"), 400_000_000, 250_000_000, 100_000_000).alias(
            "m_score"
        ),
        "m_cents",
    )
    return scored.groupBy("r_score", "f_score", "m_score").agg(
        F.count(F.lit(1)).alias("n_customers"),
        F.sum("m_cents").alias("m_cents_total"),
    )


_ABC_BUCKET_CENTS = 1 << 20  # ~$10.5k revenue per distribution bucket


@query(
    "parts_abc_pareto",
    """
    WITH rev AS (
      SELECT l_partkey AS pk,
             CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
               AS r
      FROM lineitem GROUP BY l_partkey),
    tot AS (SELECT CAST(SUM(r) AS BIGINT) AS total FROM rev),
    ranked AS (
      SELECT pk, r,
             CAST(SUM(r) OVER (ORDER BY r DESC, pk
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
               AS cum
      FROM rev)
    SELECT CASE WHEN cum * 5 <= total * 4 THEN 'A'
                WHEN cum * 20 <= total * 19 THEN 'B'
                ELSE 'C' END AS abc_class,
           COUNT(*) AS n_parts,
           CAST(SUM(r) AS BIGINT) AS revenue_cents
    FROM ranked, tot
    GROUP BY 1
    """,
)
def parts_abc_pareto(spark, sf_dir):
    """ABC / Pareto inventory classification: parts ranked by revenue,
    class A while the running (inclusive) revenue share is <= 80%, B to
    95%, C after — with the global running sum computed WITHOUT a
    single-partition window.

    Two-phase distributed cumsum: per-part revenue is range-bucketed by
    magnitude (``r div 2^20``; a few hundred buckets regardless of
    part count since per-part revenue doesn't grow with sf), the
    per-bucket totals make a tiny frame whose descending prefix sums
    broadcast back, and each part's global cum = its bucket's prefix +
    an intra-bucket running sum (window partitioned BY BUCKET — bounded
    partitions, no global sort). Share thresholds are exact integer
    cross-multiplications; ties order by (revenue desc, partkey) in
    both phases. The DuckDB oracle is the textbook single global window
    — an independent formulation, so the hash-match validates the
    two-phase decomposition itself."""
    li = t(spark, sf_dir, "lineitem")
    rev = li.groupBy(F.col("l_partkey").alias("pk")).agg(
        F.sum(cents(F.col("l_extendedprice"))).alias("r")
    ).withColumn("bkt", F.expr(f"r div {_ABC_BUCKET_CENTS}"))
    tot = rev.agg(F.sum("r").alias("total"))
    # tiny frame: one row per occupied revenue bucket; prefix = total of
    # all strictly-higher buckets (descending order)
    bkt_prefix = (
        rev.groupBy("bkt")
        .agg(F.sum("r").alias("bsum"))
        .withColumn(
            "prefix",
            F.coalesce(
                F.sum("bsum").over(
                    Window.orderBy(F.col("bkt").desc()).rowsBetween(
                        Window.unboundedPreceding, -1
                    )
                ),
                F.lit(0),
            ),
        )
        .select("bkt", "prefix")
    )
    w_intra = (
        Window.partitionBy("bkt")
        .orderBy(F.col("r").desc(), "pk")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    ranked = (
        rev.join(F.broadcast(bkt_prefix), "bkt")
        .withColumn("cum", F.col("prefix") + F.sum("r").over(w_intra))
        .crossJoin(F.broadcast(tot))
    )
    return (
        ranked.select(
            F.when(F.col("cum") * 5 <= F.col("total") * 4, "A")
            .when(F.col("cum") * 20 <= F.col("total") * 19, "B")
            .otherwise("C")
            .alias("abc_class"),
            "r",
        )
        .groupBy("abc_class")
        .agg(
            F.count(F.lit(1)).alias("n_parts"),
            F.sum("r").alias("revenue_cents"),
        )
    )


@query(
    "orders_market_basket",
    """
    WITH items AS (
      SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
    pairs AS (
      SELECT a.pk AS part_a, b.pk AS part_b
      FROM items a JOIN items b ON a.ok = b.ok AND a.pk < b.pk),
    sup AS (
      SELECT part_a, part_b, COUNT(*) AS support
      FROM pairs GROUP BY part_a, part_b)
    SELECT part_a, part_b, support FROM (
      SELECT part_a, part_b, support,
             ROW_NUMBER() OVER (ORDER BY support DESC, part_a, part_b) AS rn
      FROM sup)
    WHERE rn <= 25
    """,
)
def orders_market_basket(spark, sf_dir):
    """Market-basket co-occurrence: the top-25 part pairs by the number
    of orders containing both (frequent-itemset support at k=2).

    The quadratic step is bounded by BASKET size, not corpus size: the
    self-join runs per order key and a TPC-H order holds <= 7 line
    items, so pair volume is <= 21x the order count — linear in the
    data with a constant basket factor, the canonical co-occurrence
    shape. The final top-k is fully tie-broken (support, part_a,
    part_b), so the cut is deterministic at every scale — and it plans
    as TakeOrderedAndProject (per-partition top-25 heaps merged on the
    driver), not a single-task global-sort window, so the pair-support
    frame never funnels through one partition.

    Round-18 shape (guide §2.1 — remove the shuffle): the old
    distinct -> self-join-on-ok spent an exchange on the (ok, pk)
    distinct plus the join's exchanges before it could count pairs.
    Now ONE map-side-combinable aggregate collects each order's
    distinct-part basket as a sorted array (set semantics = the old
    distinct), the basket's pairs expand IN-TASK from the sorted array
    ((pks[i], pks[j]), j > i — so part_a < part_b by construction,
    exactly the join's output rows), and the support count is the only
    pair-sized exchange left — and it ships map-side partial counts,
    not raw pair rows. Per-row memory is bounded by basket size, the
    same bound the join's per-key fan-out had."""
    li = t(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("pk")
    )
    baskets = li.groupBy("ok").agg(
        F.sort_array(F.collect_set("pk")).alias("pks")
    )
    sup = (
        baskets.select(
            F.explode(
                F.expr(
                    "flatten(transform(pks, (x, i) -> "
                    "transform(slice(pks, i + 2, size(pks)), "
                    "y -> named_struct('part_a', x, 'part_b', y))))"
                )
            ).alias("e")
        )
        .select("e.part_a", "e.part_b")
        .groupBy("part_a", "part_b")
        .agg(F.count(F.lit(1)).alias("support"))
    )
    return sup.orderBy(F.desc("support"), "part_a", "part_b").limit(25)


_BACKLOG_DAYS = 30


@query(
    "orders_open_backlog_daily",
    f"""
    WITH deltas AS (
      SELECT epoch_us(o_orderdate) // {_RFM_DAY_US} AS day, 1 AS delta
      FROM orders
      UNION ALL
      SELECT epoch_us(o_orderdate) // {_RFM_DAY_US} + {_BACKLOG_DAYS} AS day,
             -1 AS delta
      FROM orders),
    daily AS (
      SELECT day,
             CAST(SUM(CASE WHEN delta = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS opened,
             CAST(SUM(CASE WHEN delta = -1 THEN 1 ELSE 0 END) AS BIGINT)
               AS closed,
             CAST(SUM(delta) AS BIGINT) AS net
      FROM deltas GROUP BY day)
    SELECT day, opened, closed,
           CAST(SUM(net) OVER (ORDER BY day
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS BIGINT) AS open_backlog
    FROM daily
    """,
)
def orders_open_backlog_daily(spark, sf_dir):
    """Interval counting by SWEEP-LINE: how many orders are open on
    each day, with each order open for _BACKLOG_DAYS (= 30) days after its
    order date. The naive formulation joins every day against every
    overlapping interval (O(days x orders)); the sweep-line emits +1
    at open and -1 at close, reduces to per-day nets (ONE map-side-
    combinable aggregate over 2 rows/order), and integrates with a
    running sum over the tiny day-level frame — the same
    event-volume-never-reaches-the-window discipline as
    `events_cumulative_distinct_users`, and the standard trick for
    concurrency/occupancy/backlog curves at any scale. Day keys are
    exact epoch-day integers (micros div 86400e6 — the stored
    o_orderdate is a midnight timestamp) on both engines."""
    o = t(spark, sf_dir, "orders").select(
        F.expr(f"unix_micros(o_orderdate) div {_RFM_DAY_US}").alias("day")
    )
    deltas = o.select("day", F.lit(1).alias("delta")).unionAll(
        o.select((F.col("day") + _BACKLOG_DAYS).alias("day"), F.lit(-1).alias("delta"))
    )
    daily = deltas.groupBy("day").agg(
        F.sum(F.when(F.col("delta") == 1, 1).otherwise(0)).cast("long").alias("opened"),
        F.sum(F.when(F.col("delta") == -1, 1).otherwise(0)).cast("long").alias("closed"),
        F.sum("delta").cast("long").alias("net"),
    )
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return daily.select(
        "day",
        "opened",
        "closed",
        F.sum("net").over(w).cast("long").alias("open_backlog"),
    )


@query(
    "events_ab_test_readout",
    """
    WITH assigned AS (
      SELECT CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END AS in_a,
             event_type,
             CAST(ROUND(value * 100) AS BIGINT) AS c
      FROM events),
    wide AS (
      SELECT event_type,
             CAST(SUM(in_a) AS BIGINT) AS na,
             CAST(SUM(in_a * c) AS BIGINT) AS sa,
             CAST(SUM(in_a * c * c) AS BIGINT) AS ssa,
             CAST(SUM(1 - in_a) AS BIGINT) AS nb,
             CAST(SUM((1 - in_a) * c) AS BIGINT) AS sb,
             CAST(SUM((1 - in_a) * c * c) AS BIGINT) AS ssb
      FROM assigned GROUP BY event_type)
    SELECT event_type, na, nb,
           CASE WHEN na > 0
                THEN CAST(sa AS DOUBLE) / CAST(100 * na AS DOUBLE) END AS mean_a,
           CASE WHEN nb > 0
                THEN CAST(sb AS DOUBLE) / CAST(100 * nb AS DOUBLE) END AS mean_b,
           CASE WHEN na > 1 AND nb > 1 THEN
           (CAST(sa AS DOUBLE) / CAST(na AS DOUBLE)
              - CAST(sb AS DOUBLE) / CAST(nb AS DOUBLE))
             / sqrt(
                 ((CAST(na AS DOUBLE) * CAST(ssa AS DOUBLE)
                     - CAST(sa AS DOUBLE) * CAST(sa AS DOUBLE))
                    / (CAST(na AS DOUBLE) * CAST(na AS DOUBLE)
                         * CAST(na - 1 AS DOUBLE)))
                 + ((CAST(nb AS DOUBLE) * CAST(ssb AS DOUBLE)
                       - CAST(sb AS DOUBLE) * CAST(sb AS DOUBLE))
                      / (CAST(nb AS DOUBLE) * CAST(nb AS DOUBLE)
                           * CAST(nb - 1 AS DOUBLE)))
               ) END AS z_score
    FROM wide
    """,
)
def events_ab_test_readout(spark, sf_dir):
    """Experimentation readout: users hash into arms A/B
    (deterministically — the same rand()-free discipline as
    `sample_split_stratified`), and each event type gets per-arm means
    plus the Welch two-sample z-score for the difference — the
    decision table an A/B platform renders. Everything derives from
    exact integer moments (n, sum, sum-of-squares in cents) collected
    in ONE map-side-combinable aggregate; means, variances, and the
    z-score are a FIXED tree of IEEE ops over those integers (the
    per-arm moments are CONDITIONAL sums in one aggregation keyed by
    event_type alone — one shuffle, no arm self-join) —
    ``sqrt`` is correctly rounded, so even the z-score is
    bit-deterministic across engines and partitionings (same property
    as `ml_linear_regression_train`; a streaming engine computing this
    from per-partition float sums could not hash-match anything).
    Sample-variance denominators use n-1; the z is in cents-space
    (scale cancels in the ratio)."""
    assigned = t(spark, sf_dir, "events").select(
        F.when(F.col("user_id") % 2 == 0, 1).otherwise(0).alias("in_a"),
        "event_type",
        cents(F.col("value")).alias("c"),
    )
    in_a, c = F.col("in_a"), F.col("c")
    w = assigned.groupBy("event_type").agg(
        F.sum(in_a).alias("na"),
        F.sum(in_a * c).alias("sa"),
        F.sum(in_a * c * c).alias("ssa"),
        F.sum(1 - in_a).alias("nb"),
        F.sum((1 - in_a) * c).alias("sb"),
        F.sum((1 - in_a) * c * c).alias("ssb"),
    )
    nad, sad, ssad = (F.col(c).cast("double") for c in ("na", "sa", "ssa"))
    nbd, sbd, ssbd = (F.col(c).cast("double") for c in ("nb", "sb", "ssb"))
    var_term_a = (nad * ssad - sad * sad) / (
        nad * nad * (F.col("na") - 1).cast("double")
    )
    var_term_b = (nbd * ssbd - sbd * sbd) / (
        nbd * nbd * (F.col("nb") - 1).cast("double")
    )
    # Empty/singleton arms: Spark would emit IEEE Inf/NaN from the 0/0
    # and x/0 divisions while DuckDB's behavior depends on its
    # ieee_floating_point_ops setting — guard BOTH engines to NULL so
    # sparse event types hash identically (means need n > 0, the Welch
    # variance terms need n > 1).
    return w.select(
        "event_type",
        "na",
        "nb",
        F.when(
            F.col("na") > 0, sad / (100 * F.col("na")).cast("double")
        ).alias("mean_a"),
        F.when(
            F.col("nb") > 0, sbd / (100 * F.col("nb")).cast("double")
        ).alias("mean_b"),
        F.when(
            (F.col("na") > 1) & (F.col("nb") > 1),
            (sad / nad - sbd / nbd) / F.sqrt(var_term_a + var_term_b),
        ).alias("z_score"),
    )


_HIER_ROUNDS = 5  # covers trees to depth 5 (suppkey div-10 tree: depth 4 at sf1)


@query(
    "supplier_hierarchy_rollup",
    f"""
    WITH tree AS (
      SELECT s_suppkey AS node,
             CASE WHEN s_suppkey = 0 THEN NULL
                  ELSE (s_suppkey - 1) // 10 END AS parent,
             CAST(ROUND(s_acctbal * 100) AS BIGINT) AS own
      FROM supplier),
    r0 AS (SELECT node, parent, own, own AS total FROM tree),
    {", ".join(
        f'''r{k} AS (
      SELECT t.node, t.parent, t.own,
             t.own + COALESCE((SELECT SUM(c.total) FROM r{k-1} c
                               WHERE c.parent = t.node), 0) AS total
      FROM tree t)'''
        for k in range(1, _HIER_ROUNDS + 1)
    )}
    SELECT node, parent, own AS own_cents,
           CAST(total AS BIGINT) AS subtree_cents
    FROM r{_HIER_ROUNDS}
    """,
)
def supplier_hierarchy_rollup(spark, sf_dir):
    """Hierarchical SUBTREE rollup — the BOM-explosion / org-chart
    aggregate SQL cannot express without recursion: every supplier
    rolls up the account balances of its whole div-10 subtree. The
    scalable formulation is LEVEL-SYNCHRONOUS bottom-up propagation:
    round k computes each node's total over its k-level subtree from
    round k-1's child totals (one parent-keyed join + aggregate per
    round), so _HIER_ROUNDS (= 5) rounds exactly converge any tree of
    that depth — fixed rounds, like `graph_pagerank_fixed`, because a
    pipeline provisions for a known max depth rather than looping to
    convergence. All arithmetic is integer cents; the oracle replays
    the identical rounds as chained CTEs (correlated form — an
    independent formulation of the same recurrence).

    At 100 TB: per round one hash join keyed by parent and one
    map-side-combinable sum — cost is edges, skew bound is max fan-in
    (a node's direct children), never subtree size."""
    tree = t(spark, sf_dir, "supplier").select(
        F.col("s_suppkey").alias("node"),
        F.when(F.col("s_suppkey") == 0, F.lit(None))
        .otherwise(F.expr("(s_suppkey - 1) div 10"))
        .alias("parent"),
        cents(F.col("s_acctbal")).alias("own"),
    )
    totals = tree.select("node", "parent", "own", F.col("own").alias("total"))
    totals = totals.localCheckpoint(eager=False)
    for _ in range(_HIER_ROUNDS):
        child_sums = (
            totals.where(F.col("parent").isNotNull())
            .groupBy(F.col("parent").alias("_p"))
            .agg(F.sum("total").alias("child_total"))
        )
        totals = (
            tree.join(child_sums, tree.node == F.col("_p"), "left")
            .select(
                "node",
                "parent",
                "own",
                (
                    F.col("own") + F.coalesce(F.col("child_total"), F.lit(0))
                ).alias("total"),
            )
            .localCheckpoint(eager=False)
        )
    # fixed-point guard: one extra round must change nothing, else
    # the tree is deeper than _HIER_ROUNDS and totals are truncated
    probe_sums = (
        totals.where(F.col("parent").isNotNull())
        .groupBy(F.col("parent").alias("_p"))
        .agg(F.sum("total").alias("child_total"))
    )
    moved = (
        tree.join(probe_sums, tree.node == F.col("_p"), "left")
        .select(
            "node",
            (F.col("own") + F.coalesce(F.col("child_total"), F.lit(0))).alias(
                "probe_total"
            ),
        )
        .join(totals.select("node", "total"), "node")
        .where(F.col("probe_total") != F.col("total"))
        .limit(1)
        .count()
    )
    if moved:
        raise RuntimeError(
            f"supplier_hierarchy_rollup: tree deeper than {_HIER_ROUNDS} "
            "rounds — raise _HIER_ROUNDS (oracle rounds must match)"
        )
    return totals.select(
        "node",
        "parent",
        F.col("own").alias("own_cents"),
        F.col("total").cast("long").alias("subtree_cents"),
    )


# ---------------------------------------------------------------------------
# Equi-width histogram (optimizer-stats / drift-detection shape)
# ---------------------------------------------------------------------------

_HIST_WIDTH_CENTS = 5000  # 50-unit buckets over value cents
_HIST_MAX_BUCKET = 19  # 20 buckets; the last one clamps the tail


@query(
    "events_value_histogram",
    f"""
    WITH c AS (
      SELECT event_type, CAST(ROUND(value * 100) AS BIGINT) AS cents
      FROM events),
    b AS (
      SELECT event_type,
             LEAST((cents - ((cents % {_HIST_WIDTH_CENTS})
                             + {_HIST_WIDTH_CENTS}) % {_HIST_WIDTH_CENTS})
                     // {_HIST_WIDTH_CENTS}, {_HIST_MAX_BUCKET}) AS bucket
      FROM c)
    SELECT event_type, bucket, CAST(COUNT(*) AS BIGINT) AS cnt
    FROM b GROUP BY event_type, bucket
    ORDER BY event_type, bucket
    """,
)
def events_value_histogram(spark, sf_dir):
    """Equi-width histogram of event value per type — the
    column-statistics shape an optimizer keeps and a drift monitor
    diffs day-over-day: 20 fixed 50-unit buckets with a clamped tail
    (fixed bounds, NOT data-dependent min/max, so yesterday's
    histogram is comparable to today's and partial histograms merge by
    simple addition — a data-dependent range re-bins on every run and
    can never be merged). One scan, one (type, bucket)-keyed aggregate
    with map-side partials; exact integer cents so both engines bucket
    identically. Bucketing is FLOOR division on BOTH sides — Spark via
    ``(c - pmod(c, w)) div w`` (pmod is the non-negative remainder, so
    the numerator is an exact multiple of w and truncating ``div``
    equals floor), and the DuckDB oracle via the same identity with
    ``((c % w) + w) % w`` as its non-negative mod, since DuckDB's
    integer ``//`` (like Spark's bare ``div``) truncates toward zero
    and would send -100 cents to bucket 0 instead of -1. Pure integer
    arithmetic throughout — no double rounding at any magnitude."""
    ev = t(spark, sf_dir, "events")
    c = "cast(round(value * 100) as bigint)"
    w = _HIST_WIDTH_CENTS
    bucket = F.least(
        F.expr(f"({c} - pmod({c}, {w})) div {w}"),
        F.lit(_HIST_MAX_BUCKET).cast("long"),
    )
    return (
        ev.select("event_type", bucket.alias("bucket"))
        .groupBy("event_type", "bucket")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy("event_type", "bucket")
    )


_DUP_PAY_PCT_NUM = 10  # amount tolerance: |a-b| <= 1% of the smaller
_DUP_PAY_PCT_DEN = 1000
_DUP_PAY_DAYS = 14  # date window


@query(
    "orders_duplicate_payment_scan",
    f"""
    WITH o AS (
      SELECT o_orderkey, o_custkey,
             CAST(ROUND(o_totalprice * 100) AS BIGINT) AS pc,
             epoch_us(o_orderdate) // {_RFM_DAY_US} AS day
      FROM orders)
    SELECT a.o_custkey AS custkey,
           a.o_orderkey AS order_a, b.o_orderkey AS order_b,
           a.pc AS amount_a_cents, b.pc AS amount_b_cents,
           CAST(abs(a.day - b.day) AS BIGINT) AS days_apart
    FROM o a JOIN o b
      ON a.o_custkey = b.o_custkey
     AND a.o_orderkey < b.o_orderkey
     AND abs(a.day - b.day) <= {_DUP_PAY_DAYS}
     AND {_DUP_PAY_PCT_DEN} * abs(a.pc - b.pc)
         <= {_DUP_PAY_PCT_NUM} * LEAST(a.pc, b.pc)
    ORDER BY custkey, order_a, order_b
    """,
)
def orders_duplicate_payment_scan(spark, sf_dir):
    """Duplicate-payment detection — structured near-dup on ORDERS
    (the finance-ops cousin of the text/media dedup family): two
    orders from the same customer, within {_DUP_PAY_DAYS} days of each
    other, whose totals agree within 1% (integer cross-multiply —
    ``1000 * |a - b| <= 10 * least(a, b)`` — the division-free
    tolerance discipline) are flagged as suspected duplicates for
    review.

    Shape at 100 TB: blocking IS the plan — the self-join key is the
    customer, so candidate volume is sum of per-customer order counts
    squared (bounded fan-out, ~24 max here; real AP data is similar),
    never corpus-quadratic, and both predicates evaluate INSIDE the
    equi-join before anything pair-shaped shuffles. A skewed mega-
    customer would surface in AQE's skew-join splitting; the exact
    analog of the text family's banded candidates + in-join verify."""
    o = t(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_custkey",
        cents(F.col("o_totalprice")).alias("pc"),
        F.expr(f"unix_micros(o_orderdate) div {_RFM_DAY_US}").alias("day"),
    )
    a, b = o.alias("a"), o.alias("b")
    return (
        a.join(
            b,
            (F.col("a.o_custkey") == F.col("b.o_custkey"))
            & (F.col("a.o_orderkey") < F.col("b.o_orderkey"))
            & (
                F.abs(F.col("a.day") - F.col("b.day")) <= _DUP_PAY_DAYS
            )
            & (
                F.lit(_DUP_PAY_PCT_DEN)
                * F.abs(F.col("a.pc") - F.col("b.pc"))
                <= F.lit(_DUP_PAY_PCT_NUM)
                * F.least(F.col("a.pc"), F.col("b.pc"))
            ),
        )
        .select(
            F.col("a.o_custkey").alias("custkey"),
            F.col("a.o_orderkey").alias("order_a"),
            F.col("b.o_orderkey").alias("order_b"),
            F.col("a.pc").alias("amount_a_cents"),
            F.col("b.pc").alias("amount_b_cents"),
            F.abs(F.col("a.day") - F.col("b.day"))
            .cast("long")
            .alias("days_apart"),
        )
        .orderBy("custkey", "order_a", "order_b")
    )


def pareto_classes(
    df,
    key_col,
    value_col,
    thresholds=(0.8, 0.95),
    labels=("A", "B", "C"),
    n_buckets=256,
):
    """Library operator: ABC/Pareto classification for arbitrary
    frames — each key is classed by the running share of total value
    it completes when keys are ranked by value descending (ties break
    by key ascending): label i while the inclusive running share is
    <= thresholds[i], the last label after. The frame-level form of
    the registered `parts_abc_pareto` query, same two-phase
    distributed cumsum — NO single-partition global window:

    per-key values are range-bucketed by magnitude (equi-width buckets
    from one max() aggregate, <= ``n_buckets`` of them regardless of
    key count), the per-bucket totals form a tiny frame whose
    descending prefix sums broadcast back, and each key's global
    cumulative = its bucket's prefix + an intra-bucket running sum
    (window partitioned BY BUCKET — bounded partitions, no global
    sort). Returns ``(key_col, value_col, cum_value, cum_share,
    cls)``.

    ``df`` must carry one row per key with a non-negative numeric
    value (aggregate first if not)."""
    if len(labels) != len(thresholds) + 1:
        raise ValueError(
            "pareto_classes: need exactly len(thresholds) + 1 labels"
        )
    stats = df.agg(
        F.max(F.col(value_col).cast("double")).alias("m"),
        F.sum(F.col(value_col).cast("double")).alias("t"),
    ).first()
    vmax = stats["m"] if stats else None
    if vmax is None:
        # empty input: emit the SAME schema as the non-empty path
        # (value_col is cast to double there, so it must be double here
        # too — a branch-dependent schema breaks downstream unions).
        return df.sparkSession.createDataFrame(
            [],
            df.select(
                key_col, F.col(value_col).cast("double").alias(value_col)
            ).schema.add("cum_value", "double").add(
                "cum_share", "double"
            ).add("cls", "string"),
        )
    if not float(stats["t"]) > 0.0:
        # an all-zero (or NULL-summing) value column makes every
        # cum_share NULL, which would silently class every key into the
        # last label; the classification is undefined, so say so.
        raise ValueError(
            "pareto_classes: total of value column is not positive; "
            "running-share classification is undefined"
        )
    width = max(float(vmax) / int(n_buckets), 1e-12)
    keyed = df.select(
        F.col(key_col).alias("_k"),
        F.col(value_col).cast("double").alias("_v"),
    ).withColumn("_bkt", F.floor(F.col("_v") / F.lit(width)))
    tot = keyed.agg(F.sum("_v").alias("_total"))
    bkt_prefix = (
        keyed.groupBy("_bkt")
        .agg(F.sum("_v").alias("_bsum"))
        .withColumn(
            "_prefix",
            F.coalesce(
                F.sum("_bsum").over(
                    Window.orderBy(F.col("_bkt").desc()).rowsBetween(
                        Window.unboundedPreceding, -1
                    )
                ),
                F.lit(0.0),
            ),
        )
        .select("_bkt", "_prefix")
    )
    w_intra = (
        Window.partitionBy("_bkt")
        .orderBy(F.col("_v").desc(), "_k")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    ranked = (
        keyed.join(F.broadcast(bkt_prefix), "_bkt")
        .withColumn("_cum", F.col("_prefix") + F.sum("_v").over(w_intra))
        .crossJoin(F.broadcast(tot))
        .withColumn("_share", F.col("_cum") / F.col("_total"))
    )
    cls = F.when(F.col("_share") <= thresholds[0], labels[0])
    for t_i, lab in zip(thresholds[1:], labels[1:-1]):
        cls = cls.when(F.col("_share") <= t_i, lab)
    cls = cls.otherwise(labels[-1])
    return ranked.select(
        F.col("_k").alias(key_col),
        F.col("_v").alias(value_col),
        F.col("_cum").alias("cum_value"),
        F.col("_share").alias("cum_share"),
        cls.alias("cls"),
    )


def value_histogram(df, value_col, width, max_bucket=None, keys=()):
    """Library operator: fixed-width, MERGEABLE histogram — the
    frame-level form of the registered `events_value_histogram` query.
    Fixed bounds (bucket = floor(value / width), optionally clamped at
    ``max_bucket``), NOT data-dependent min/max, so yesterday's
    histogram is comparable to today's and partial histograms merge by
    simple addition. Bucketing is true FLOOR division (negative values
    land in negative buckets, never bucket 0). Returns
    ``(keys..., bucket, cnt)``.

    Shape at 100 TB: one scan, one (keys, bucket)-keyed aggregate with
    map-side partials."""
    keys = [keys] if isinstance(keys, str) else list(keys)
    bucket = F.floor(F.col(value_col).cast("double") / F.lit(float(width)))
    if max_bucket is not None:
        bucket = F.least(bucket, F.lit(int(max_bucket)))
    return (
        df.select(*keys, bucket.cast("long").alias("bucket"))
        .groupBy(*keys, "bucket")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def ab_readout(events, arm_col, value_col, keys=()):
    """Library operator: A/B experimentation readout for arbitrary
    frames — the frame-level, two-arm-generic form of the registered
    `events_ab_test_readout` query. ``arm_col`` is a boolean (or 0/1)
    treatment flag; per ``keys`` group the readout returns arm sizes,
    arm means, and the Welch two-sample z-score of the difference
    (treatment minus control). Empty/singleton arms yield NULL mean/z
    instead of IEEE Inf/NaN (means need n > 0; Welch variance terms
    need n > 1). Sample variances use n-1.

    Shape at 100 TB: ONE map-side-combinable aggregate collects exact
    per-arm moments (n, sum, sum-of-squares) as CONDITIONAL sums keyed
    by the group alone — one shuffle, no arm self-join; the z-score is
    a fixed tree of IEEE ops over those moments."""
    keys = [keys] if isinstance(keys, str) else list(keys)
    in_a = F.col(arm_col).cast("int")
    c = F.col(value_col).cast("double")
    w = events.groupBy(*keys).agg(
        F.sum(in_a).alias("na"),
        F.sum(in_a * c).alias("sa"),
        F.sum(in_a * c * c).alias("ssa"),
        F.sum(1 - in_a).alias("nb"),
        F.sum((1 - in_a) * c).alias("sb"),
        F.sum((1 - in_a) * c * c).alias("ssb"),
    )
    nad, sad, ssad = (F.col(x).cast("double") for x in ("na", "sa", "ssa"))
    nbd, sbd, ssbd = (F.col(x).cast("double") for x in ("nb", "sb", "ssb"))
    var_term_a = (nad * ssad - sad * sad) / (
        nad * nad * (F.col("na") - 1).cast("double")
    )
    var_term_b = (nbd * ssbd - sbd * sbd) / (
        nbd * nbd * (F.col("nb") - 1).cast("double")
    )
    return w.select(
        *keys,
        F.col("na").cast("long").alias("n_treat"),
        F.col("nb").cast("long").alias("n_control"),
        F.when(F.col("na") > 0, sad / nad).alias("mean_treat"),
        F.when(F.col("nb") > 0, sbd / nbd).alias("mean_control"),
        F.when(
            (F.col("na") > 1) & (F.col("nb") > 1),
            (sad / nad - sbd / nbd) / F.sqrt(var_term_a + var_term_b),
        ).alias("z_score"),
    )


def rfm_segments(
    orders,
    anchor,
    customer_col="customer_id",
    ts_col="ts",
    value_col="value",
    recency_days=(180, 365, 730),
    frequency=(15, 10, 5),
    monetary=None,
):
    """Library operator: RFM customer segmentation for arbitrary
    frames — per customer, recency (days since last order at the fixed
    ``anchor`` timestamp), frequency (order count), and monetary
    (lifetime value), each banded 4..1 against FIXED business
    thresholds, rolled up to the segment grid
    ``(r_score, f_score, m_score, n_customers, value_total)`` — the
    frame-level, threshold-parameterized form of the registered
    `orders_rfm_segments` query.

    ``recency_days`` are the <= cutoffs for scores 4/3/2 (older is 1);
    ``frequency`` and ``monetary`` are the >= cutoffs for 4/3/2. When
    ``monetary`` is None the cutoffs are derived from one total: mean
    lifetime value x (4, 2.5, 1) — a deterministic aggregate, not a
    quantile. Fixed bands instead of ntile-quartiles is the scale
    decision: a global ntile needs a total order over all customers
    (single-partition window), while fixed thresholds keep the whole
    query two map-side-combinable hash aggregates (customer, then the
    <= 64-cell grid) with zero sorts."""
    per_cust = orders.groupBy(F.col(customer_col).alias("_c")).agg(
        F.expr(
            f"(unix_micros(timestamp'{anchor}') - unix_micros(max({ts_col})))"
            " div 86400000000"
        ).alias("_r_days"),
        F.count(F.lit(1)).alias("_freq"),
        F.sum(F.col(value_col).cast("double")).alias("_m"),
    )
    if monetary is None:
        totals = per_cust.agg(
            (F.sum("_m") / F.count(F.lit(1))).alias("_mean")
        )
        per_cust = per_cust.crossJoin(F.broadcast(totals))
        m4, m3, m2 = (
            F.col("_mean") * 4.0,
            F.col("_mean") * 2.5,
            F.col("_mean") * 1.0,
        )
    else:
        m4, m3, m2 = (F.lit(float(x)) for x in monetary)

    def band_ge(c, b4, b3, b2):
        return F.when(c >= b4, 4).when(c >= b3, 3).when(c >= b2, 2).otherwise(1)

    r4, r3, r2 = recency_days
    scored = per_cust.select(
        F.when(F.col("_r_days") <= int(r4), 4)
        .when(F.col("_r_days") <= int(r3), 3)
        .when(F.col("_r_days") <= int(r2), 2)
        .otherwise(1)
        .alias("r_score"),
        band_ge(F.col("_freq"), *[F.lit(int(x)) for x in frequency]).alias(
            "f_score"
        ),
        band_ge(F.col("_m"), m4, m3, m2).alias("m_score"),
        F.col("_m"),
    )
    return scored.groupBy("r_score", "f_score", "m_score").agg(
        F.count(F.lit(1)).cast("long").alias("n_customers"),
        F.sum("_m").alias("value_total"),
    )


# Hot-basket gate for the library `market_basket` pair expansion (see
# `spark_utils.bucket_pairs` and dedup's `_BUCKET_CAP` for the
# rationale): a basket at or under this many distinct items expands
# in-task from one sorted collect_set; above it, the old streaming
# basket self-join takes over so one mega-basket can never become a
# single basket-sized aggregation buffer. The registered
# `orders_market_basket` keeps the ungated fold — TPC-H orders hold
# <= 7 items by data contract.
_BASKET_CAP = 4096


def market_basket(df, basket_col, item_col, min_support=1, k=None):
    """Library operator: market-basket pair affinity — the frame-level
    form of the registered `orders_market_basket`, extended with the
    lift statistic. Input is any (basket, item) frame; output is one
    row per unordered item pair sharing a basket: ``(item_a, item_b,
    support, count_a, count_b, lift)`` with item_a < item_b, support =
    co-occurrence baskets (>= ``min_support``), count_x = the item's
    own basket count, and lift = support * n_baskets /
    (count_a * count_b) — lift > 1 means the pair co-occurs more than
    independence predicts, the association-rule screening statistic.

    Scale shape: (basket, item) rows are deduplicated FIRST, and the
    quadratic step expands pairs IN-TASK per basket through the gated
    `bucket_pairs` helper (round 19, ported from the registered
    query's round-18 fold): baskets at or under `_BASKET_CAP` items
    collect into one sorted set and expand without a join, while a
    hot mega-basket streams through the fallback basket self-join
    instead of a basket-sized aggregation buffer — pair volume is
    bounded by BASKET size either way, not corpus size (the canonical
    co-occurrence discipline — a TPC-H order holds <= 7 items, a
    retail basket tens). Rows with a NULL basket or item key never
    pair, exactly as in the self-join form (`bucket_pairs` drops NULL
    bucket keys, and a NULL item never joins a pair), while item
    counts and the basket total still aggregate over the FULL distinct
    frame, exactly as before. With ``k`` the result is the
    deterministic global top-k by (support desc, item_a, item_b),
    planned as TakeOrderedAndProject — each partition keeps its own k
    rows and the driver merges — never a single-task sort over the
    whole >= min_support pair set (the unpartitioned row_number window
    this replaced funnels everything through one task at min_support=1
    on a large corpus)."""
    items = df.select(
        F.col(basket_col).alias("_b"), F.col(item_col).alias("_i")
    ).distinct()
    pairs = (
        bucket_pairs(
            items,
            ("_b",),
            "_i",
            _BASKET_CAP,
            out_a="item_a",
            out_b="item_b",
        )
        .groupBy("item_a", "item_b")
        .agg(F.count(F.lit(1)).alias("support"))
        .where(F.col("support") >= int(min_support))
    )
    counts = items.groupBy("_i").agg(F.count(F.lit(1)).alias("_c"))
    nb = items.agg(F.count_distinct("_b").alias("_nb"))
    out = (
        pairs.join(
            counts.select(
                F.col("_i").alias("item_a"), F.col("_c").alias("count_a")
            ),
            "item_a",
        )
        .join(
            counts.select(
                F.col("_i").alias("item_b"), F.col("_c").alias("count_b")
            ),
            "item_b",
        )
        .crossJoin(F.broadcast(nb))
        .select(
            "item_a",
            "item_b",
            "support",
            "count_a",
            "count_b",
            (
                F.col("support").cast("double")
                * F.col("_nb")
                / (F.col("count_a") * F.col("count_b"))
            ).alias("lift"),
        )
    )
    if k is None:
        return out
    return out.orderBy(F.desc("support"), "item_a", "item_b").limit(int(k))


def duplicate_scan(
    df,
    entity_col,
    id_col,
    amount_col,
    time_col,
    max_time_apart,
    tol_num=10,
    tol_den=1000,
):
    """Library operator: duplicate-transaction detection — the
    frame-level form of the registered `orders_duplicate_payment_scan`
    (structured near-dup for finance ops / AP review queues). Two rows
    of the same ``entity_col`` (the blocking key: customer, vendor,
    account), within ``max_time_apart`` of each other on an INTEGER
    ``time_col`` (same unit as the threshold: day number, hour id),
    whose NON-NEGATIVE integer amounts agree within
    ``tol_num / tol_den`` of the smaller (division-free integer
    cross-multiply: ``tol_den * |a-b| <= tol_num * least(a, b)`` — the
    engine's tolerance discipline, exact at any magnitude) are flagged
    once as ``(entity, id_a, id_b, amount_a, amount_b, time_apart)``
    with ``id_a < id_b``.

    Shape at 100 TB: blocking IS the plan — the self-join key is the
    entity, so candidate volume is the sum of per-entity row counts
    squared (bounded fan-out on real ledgers), never
    corpus-quadratic, and every predicate evaluates INSIDE the
    equi-join before anything pair-shaped shuffles; a skewed
    mega-entity surfaces in AQE's skew-join splitting."""
    o = df.select(
        F.col(entity_col).alias("_e"),
        F.col(id_col).alias("_id"),
        F.col(amount_col).cast("long").alias("_amt"),
        F.col(time_col).cast("long").alias("_t"),
    )
    a, b = o.alias("a"), o.alias("b")
    return a.join(
        b,
        (F.col("a._e") == F.col("b._e"))
        & (F.col("a._id") < F.col("b._id"))
        & (F.abs(F.col("a._t") - F.col("b._t")) <= int(max_time_apart))
        & (
            F.lit(int(tol_den)) * F.abs(F.col("a._amt") - F.col("b._amt"))
            <= F.lit(int(tol_num)) * F.least(F.col("a._amt"), F.col("b._amt"))
        ),
    ).select(
        F.col("a._e").alias("entity"),
        F.col("a._id").alias("id_a"),
        F.col("b._id").alias("id_b"),
        F.col("a._amt").alias("amount_a"),
        F.col("b._amt").alias("amount_b"),
        F.abs(F.col("a._t") - F.col("b._t")).alias("time_apart"),
    )
