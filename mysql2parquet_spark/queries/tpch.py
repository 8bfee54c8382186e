"""TPC-H-shaped composite queries (adapted to the fixture schema — no
comment/address/shipmode columns), exercising multi-operator plans the
way real workloads do: selective dim filters, multi-way joins, decimal
revenue aggregation, grouped top-k. The reference delegates all of these
wholesale to MySQL (main.go:106); here they are Catalyst plans with
broadcast dims and decimal-exact money math.

Money sums have DECIMAL(18,2) semantics — order-independent, so top-k
ties are engine-stable and the tie-break key makes output fully
deterministic. ``tpch_q1`` computes them through ``functions/money.py``
(exact BIGINT limb sums of the same cents); revenue = sum(l_extendedprice
* (1 - l_discount)) elsewhere still casts each row with ``tierb.dec``.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from mysql2parquet_spark.io import load_table
from mysql2parquet_spark.queries import register
from mysql2parquet_spark.queries.tierb import PRICING_SUMMARY_SQL, dec, pricing_summary


def T(spark, sf_dir, name):
    return load_table(spark, sf_dir, name)


_REV = "CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))"


def _rev():
    return dec("l_extendedprice") * (1 - dec("l_discount"))


@register(
    "tpch_q3_shape",
    f"""
    SELECT l_orderkey,
           CAST(SUM({_REV}) AS DOUBLE) AS revenue,
           STRFTIME(o_orderdate, '%Y-%m-%d') AS orderdate
    FROM customer
      JOIN orders   ON c_custkey = o_custkey
      JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '1998-03-15'
      AND l_shipdate  > TIMESTAMP '1998-03-15'
    GROUP BY l_orderkey, o_orderdate
    ORDER BY revenue DESC, l_orderkey
    LIMIT 10
    """,
    "TPC-H Q3 shape: segment-filtered 3-way join, revenue per unshipped "
    "order, top-10. The segment-filtered customer grows linearly with "
    "scale factor, so it carries NO broadcast hint — AQE broadcasts it "
    "at small SF and shuffles at 100x, where a forced hint would OOM.",
)
def tpch_q3_shape(spark, sf_dir):
    c = T(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = T(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1998-03-15").cast("timestamp")
    )
    li = T(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1998-03-15").cast("timestamp")
    )
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .groupBy("l_orderkey", "o_orderdate")
        .agg(F.sum(_rev()).cast("double").alias("revenue"))
        .select(
            "l_orderkey",
            "revenue",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
        )
        .orderBy(F.col("revenue").desc(), F.col("l_orderkey"))
        .limit(10)
    )


@register(
    "tpch_q5_shape",
    f"""
    SELECT n_name, CAST(SUM({_REV}) AS DOUBLE) AS revenue
    FROM region
      JOIN nation   ON n_regionkey = r_regionkey
      JOIN customer ON c_nationkey = n_nationkey
      JOIN orders   ON o_custkey = c_custkey
      JOIN lineitem ON l_orderkey = o_orderkey
      JOIN supplier ON l_suppkey = s_suppkey AND s_nationkey = c_nationkey
    WHERE r_name = 'ASIA'
      AND o_orderdate >= TIMESTAMP '1996-01-01'
      AND o_orderdate <  TIMESTAMP '1998-01-01'
    GROUP BY n_name
    """,
    "TPC-H Q5 shape: 6-way join with a local-supplier equality, revenue "
    "by nation. region/nation broadcast (bounded dims: 5/25 rows at any "
    "SF); supplier and customer are hint-free — both grow linearly with "
    "scale factor, so AQE owns their join strategy.",
)
def tpch_q5_shape(spark, sf_dir):
    r = T(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    n = T(spark, sf_dir, "nation")
    c = T(spark, sf_dir, "customer")
    o = T(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    li = T(spark, sf_dir, "lineitem")
    s = T(spark, sf_dir, "supplier")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(
            s,
            (li.l_suppkey == s.s_suppkey)
            & (s.s_nationkey == c.c_nationkey),
        )
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("n_name")
        .agg(F.sum(_rev()).cast("double").alias("revenue"))
    )


@register(
    "tpch_q6",
    """
    SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                    * CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
           COUNT(*) AS n_items
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      AND l_shipdate <  TIMESTAMP '1997-01-01'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24
    """,
    "TPC-H Q6 (exact): pure scan-filter-aggregate — the pushdown "
    "showcase; every predicate reaches the parquet reader.",
)
def tpch_q6(spark, sf_dir):
    li = T(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
            & F.col("l_discount").between(0.05, 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.sum(dec("l_extendedprice") * dec("l_discount"))
            .cast("double")
            .alias("revenue"),
            F.count("*").alias("n_items"),
        )
    )


register(
    "tpch_q1",
    PRICING_SUMMARY_SQL,
    "TPC-H Q1 (exact): the canonical pricing-summary scan-aggregate — 8 "
    "aggregates over 6 groups, one shuffle of 6 rows after map-side "
    "partials. Money sums have DECIMAL(18,2) semantics on BIGINT limb "
    "sums (functions/money.py), so they are order-independent; averages "
    "as exact-decimal-sum / exact-count in one double division "
    "(deterministic on both engines).",
)(pricing_summary)


@register(
    "tpch_q18",
    """
    SELECT c_name, c_custkey, o_orderkey,
           STRFTIME(o_orderdate, '%Y-%m-%d') AS orderdate,
           CAST(o_totalprice AS DOUBLE) AS totalprice,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
    FROM customer
      JOIN orders   ON c_custkey = o_custkey
      JOIN lineitem ON o_orderkey = l_orderkey
    WHERE o_orderkey IN (
        SELECT l_orderkey FROM lineitem
        GROUP BY l_orderkey
        HAVING SUM(CAST(l_quantity AS DECIMAL(18,2))) > 250
    )
    GROUP BY c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice
    ORDER BY totalprice DESC, o_orderkey
    LIMIT 100
    """,
    "TPC-H Q18 shape: large-volume customers — a grouped-HAVING "
    "subquery feeding the join, then grouped top-k. The HAVING "
    "aggregate ALREADY holds each big order's quantity sum, and the "
    "outer group is one-row-per-order (o_orderkey is the orders PK), "
    "so the sum rides the tiny big-order relation into a broadcast "
    "join: lineitem is scanned ONCE and never re-aggregated (r14; "
    "bit-identical — same decimal addends per order).",
)
def tpch_q18(spark, sf_dir):
    """Large-volume-customer shape (reference delegates to MySQL,
    main.go:106). The HAVING aggregate shuffles only (orderkey, qty)
    pairs; the outer per-order "aggregate" is that aggregate's own
    output (one row per orderkey, sum already computed), so the old
    second lineitem scan + semi-join + re-sum collapse into one inner
    join against the ~0.3%-of-orders big relation (r14)."""
    li = T(spark, sf_dir, "lineitem")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum(dec("l_quantity")).alias("_q"))
        .filter(F.col("_q") > 250)
    )
    o = T(spark, sf_dir, "orders")
    c = T(spark, sf_dir, "customer")
    return (
        o.join(big, o.o_orderkey == big.l_orderkey)
        .join(c, F.col("o_custkey") == c.c_custkey)
        .withColumn("sum_qty", F.col("_q").cast("double"))
        .select(
            "c_name",
            "c_custkey",
            "o_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
            F.col("o_totalprice").cast("double").alias("totalprice"),
            "sum_qty",
        )
        .orderBy(F.col("totalprice").desc(), F.col("o_orderkey"))
        .limit(100)
    )


@register(
    "tpch_q10_shape",
    f"""
    SELECT c_custkey, c_name, n_name,
           CAST(SUM({_REV}) AS DOUBLE) AS revenue
    FROM customer
      JOIN nation   ON c_nationkey = n_nationkey
      JOIN orders   ON o_custkey = c_custkey
      JOIN lineitem ON l_orderkey = o_orderkey
    WHERE l_returnflag = 'R'
      AND o_orderdate >= TIMESTAMP '1996-10-01'
      AND o_orderdate <  TIMESTAMP '1997-01-01'
    GROUP BY c_custkey, c_name, n_name
    ORDER BY revenue DESC, c_custkey
    LIMIT 20
    """,
    "TPC-H Q10 shape: returned-item revenue per customer, top-20 — "
    "grouped top-k over a 4-way join.",
)
def tpch_q10_shape(spark, sf_dir):
    c = T(spark, sf_dir, "customer")
    n = T(spark, sf_dir, "nation")
    o = T(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-10-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    li = T(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(F.sum(_rev()).cast("double").alias("revenue"))
        .orderBy(F.col("revenue").desc(), F.col("c_custkey"))
        .limit(20)
    )
