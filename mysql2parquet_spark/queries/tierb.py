"""Tier B — the relational SQL surface the reference delegates to MySQL
(/root/reference/main.go:106 pushes the raw query string to the server),
re-owned natively on Spark. One declared correctness query per SURVEY.md
§2.2 row; every computed column is aliased identically in the Spark plan
and the DuckDB oracle, double aggregates are ROUND(..,2), and LIMIT paths
tie-break on a unique key.

Scale notes are inline per query: these are the exact plans we expect at
100 TB (pushdown into the parquet scan, broadcast for dims, AQE for
skew), validated via .explain in tests/test_plans.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from mysql2parquet_spark.functions.money import cents, exact_sum, mul
from mysql2parquet_spark.io import load_table, register_tables
from mysql2parquet_spark.queries import register


def T(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, sf_dir, name)


def dec(col) -> F.Column:
    """Money column → exact ``DECIMAL(18,2)``. Summing decimals is
    order-independent (unlike double sums, whose value drifts with
    shuffle order), so aggregates are bit-reproducible across engines
    and cluster sizes. The final cast back to double is exact (≤15
    significant digits). The pricing-summary sums (``tpch_q1``,
    ``agg_group``) compute the same ``DECIMAL(18,2)`` values on BIGINT
    through ``functions/money.py`` (exact up to 2^42 rows per group and
    a per-row value below 2^63 units of the sum's scale); the other
    money sums still cast every row here."""
    c = F.col(col) if isinstance(col, str) else col
    return c.cast("decimal(18,2)")


def dsum(col) -> F.Column:
    """Exact decimal sum of a 2-dp money column, returned as double."""
    return F.sum(dec(col)).cast("double")


# --------------------------------------------------------------------------
# B1/B4 — scan, projection, expressions
# --------------------------------------------------------------------------

@register(
    "scan_project",
    "SELECT l_orderkey, l_partkey, l_quantity FROM lineitem",
    "B1: parquet scan + column pruning (ReadSchema shows only 3 columns).",
)
def scan_project(spark, sf_dir):
    return T(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey", "l_quantity")


@register(
    "expr_arith",
    """
    SELECT l_orderkey, l_linenumber,
           CAST(CAST(l_extendedprice AS DECIMAL(18,2))
                * (1 - CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
           CAST(CAST(l_extendedprice AS DECIMAL(18,2))
                * (1 - CAST(l_discount AS DECIMAL(18,2)))
                * (1 + CAST(l_tax AS DECIMAL(18,2))) AS DOUBLE) AS revenue_tax,
           CAST(FLOOR(l_quantity) AS BIGINT) AS qty_floor
    FROM lineitem
    """,
    "B4/B24/B26: arithmetic expressions + casts. Money math in exact "
    "decimal (the reference collapses DECIMAL→DOUBLE, main.go:136-137 — "
    "a documented fidelity loss we do NOT inherit by default).",
)
def expr_arith(spark, sf_dir):
    li = T(spark, sf_dir, "lineitem")
    rev = dec("l_extendedprice") * (1 - dec("l_discount"))
    return li.select(
        "l_orderkey",
        "l_linenumber",
        rev.cast("double").alias("revenue"),
        (rev * (1 + dec("l_tax"))).cast("double").alias("revenue_tax"),
        F.floor("l_quantity").alias("qty_floor"),
    )


@register(
    "filter_pred",
    """
    SELECT l_orderkey, l_linenumber, l_quantity, l_returnflag
    FROM lineitem
    WHERE l_quantity BETWEEN 10 AND 20
      AND l_returnflag IN ('A', 'R')
      AND l_shipdate < TIMESTAMP '1997-01-01'
      AND NOT (l_linestatus = 'O' AND l_quantity > 15)
    """,
    "B5: predicates =/BETWEEN/IN/</AND/OR/NOT — pushed into the parquet scan.",
)
def filter_pred(spark, sf_dir):
    li = T(spark, sf_dir, "lineitem")
    return li.filter(
        F.col("l_quantity").between(10, 20)
        & F.col("l_returnflag").isin("A", "R")
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
        & ~((F.col("l_linestatus") == "O") & (F.col("l_quantity") > 15))
    ).select("l_orderkey", "l_linenumber", "l_quantity", "l_returnflag")


# --------------------------------------------------------------------------
# B6-B11 — joins
# --------------------------------------------------------------------------

@register(
    "join_inner",
    """
    SELECT o_orderkey, c_name, o_totalprice
    FROM orders JOIN customer ON o_custkey = c_custkey
    """,
    "B6: inner equi-join; at scale this shuffles on the key — AQE picks "
    "broadcast automatically when one side is small.",
)
def join_inner(spark, sf_dir):
    o = T(spark, sf_dir, "orders")
    c = T(spark, sf_dir, "customer")
    return o.join(c, o.o_custkey == c.c_custkey, "inner").select(
        "o_orderkey", "c_name", "o_totalprice"
    )


@register(
    "join_broadcast",
    """
    SELECT p_brand, COUNT(*) AS cnt,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE p_partkey <= 500
    GROUP BY p_brand
    """,
    "B7: explicit broadcast of a GENUINELY bounded dim — the part side "
    "is capped by an absolute key range (<=500 rows at ANY scale "
    "factor), so the hint stays safe at 100 TB; no shuffle of the fact "
    "side for the join itself, only the tiny post-agg exchange. A full "
    "or fixed-selectivity-filtered part grows linearly with SF and must "
    "NOT carry the hint (docs/SCALE.md 'Joins').",
)
def join_broadcast(spark, sf_dir):
    li = T(spark, sf_dir, "lineitem")
    p = T(spark, sf_dir, "part").filter(F.col("p_partkey") <= 500)
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .groupBy("p_brand")
        .agg(
            F.count("*").alias("cnt"),
            dsum("l_extendedprice").alias("sum_price"),
        )
    )


@register(
    "join_left",
    """
    SELECT c_custkey,
           COUNT(o_orderkey) AS order_cnt,
           CAST(SUM(CAST(COALESCE(o_totalprice, 0) AS DECIMAL(18,2))) AS DOUBLE)
             AS total_spend
    FROM customer LEFT JOIN orders ON c_custkey = o_custkey
    GROUP BY c_custkey
    """,
    "B8: left outer join preserving customers without orders.",
)
def join_left(spark, sf_dir):
    c = T(spark, sf_dir, "customer")
    o = T(spark, sf_dir, "orders")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(
            F.count("o_orderkey").alias("order_cnt"),
            F.sum(dec(F.coalesce("o_totalprice", F.lit(0.0))))
            .cast("double")
            .alias("total_spend"),
        )
    )


@register(
    "join_semi",
    """
    SELECT c_custkey, c_name FROM customer
    WHERE c_custkey IN (SELECT o_custkey FROM orders WHERE o_totalprice > 300000)
    """,
    "B9: left-semi join (IN/EXISTS) — returns each matching customer once.",
)
def join_semi(spark, sf_dir):
    c = T(spark, sf_dir, "customer")
    big = T(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 300000)
    return c.join(big, c.c_custkey == big.o_custkey, "left_semi").select(
        "c_custkey", "c_name"
    )


@register(
    "join_anti",
    """
    SELECT c_custkey, c_name FROM customer
    WHERE c_custkey NOT IN
          (SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT')
    """,
    "B9: left-anti join (NOT EXISTS) — customers with no urgent orders.",
)
def join_anti(spark, sf_dir):
    c = T(spark, sf_dir, "customer")
    o = T(spark, sf_dir, "orders").filter(F.col("o_orderpriority") == "1-URGENT")
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select(
        "c_custkey", "c_name"
    )


@register(
    "join_range",
    """
    SELECT b.band_id, COUNT(*) AS cnt, ROUND(AVG(p_retailprice), 2) AS avg_price
    FROM part,
         (SELECT i AS band_id, 900 + i * 20 AS lo, 920 + i * 20 AS hi
          FROM range(5) t(i)) b
    WHERE p_retailprice >= b.lo AND p_retailprice < b.hi
    GROUP BY b.band_id
    """,
    "B10: theta/range join (non-equi) — price-band join; Spark plans a "
    "broadcast-nested-loop over the tiny band side, so the big side "
    "streams through once.",
)
def join_range(spark, sf_dir):
    p = T(spark, sf_dir, "part")
    bands = spark.range(5).select(
        F.col("id").alias("band_id"),
        (900 + F.col("id") * 20).alias("lo"),
        (920 + F.col("id") * 20).alias("hi"),
    )
    return (
        p.join(
            F.broadcast(bands),
            (p.p_retailprice >= bands.lo) & (p.p_retailprice < bands.hi),
        )
        .groupBy("band_id")
        .agg(
            F.count("*").alias("cnt"),
            F.round(F.avg("p_retailprice"), 2).alias("avg_price"),
        )
    )


@register(
    "join_multiway",
    """
    SELECT r_name, n_name,
           COUNT(*) AS order_cnt,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_spend
    FROM region
      JOIN nation   ON n_regionkey = r_regionkey
      JOIN customer ON c_nationkey = n_nationkey
      JOIN orders   ON o_custkey = c_custkey
    GROUP BY r_name, n_name
    """,
    "B11: 4-way join chain — Catalyst/CBO reorders; region+nation are "
    "broadcast dims.",
)
def join_multiway(spark, sf_dir):
    r = T(spark, sf_dir, "region")
    n = T(spark, sf_dir, "nation")
    c = T(spark, sf_dir, "customer")
    o = T(spark, sf_dir, "orders")
    return (
        o.join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("r_name", "n_name")
        .agg(
            F.count("*").alias("order_cnt"),
            dsum("o_totalprice").alias("total_spend"),
        )
    )


# --------------------------------------------------------------------------
# B12-B15 — aggregation
# --------------------------------------------------------------------------

PRICING_SUMMARY_SQL = """
    SELECT l_returnflag, l_linestatus,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                    * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS sum_disc_price,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                    * (1 - CAST(l_discount AS DECIMAL(18,2)))
                    * (1 + CAST(l_tax AS DECIMAL(18,2)))) AS DOUBLE) AS sum_charge,
           ROUND(CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
                 / COUNT(*), 2) AS avg_qty,
           ROUND(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
                 / COUNT(*), 2) AS avg_price,
           ROUND(CAST(SUM(CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE)
                 / COUNT(*), 2) AS avg_disc,
           COUNT(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02'
    GROUP BY l_returnflag, l_linestatus
    """


def pricing_summary(spark, sf_dir):
    """TPC-H Q1 pricing summary on the fixed-point money kernel. The
    projections under the aggregate (one codegen stage) compute every
    value once: the ``DECIMAL(18,2)`` cents of the four money columns,
    then the scale-4 discounted price and the scale-6 charge as guarded
    BIGINT products. The aggregate keeps only BIGINT limb sums and the
    count; each sum recombines to the exact decimal the oracle computes,
    so the doubles (and the averages: exact sum / exact count, one
    division) are bit-identical at any partial-aggregation order or
    cluster size."""
    keys = ["l_returnflag", "l_linestatus"]
    li = T(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp")
    )
    fixed = li.selectExpr(
        *keys,
        f"{cents('l_quantity')} AS _q",
        f"{cents('l_extendedprice')} AS _p",
        f"{cents('l_discount')} AS _d",
        f"{cents('l_tax')} AS _t",
    )
    fixed = fixed.selectExpr(
        *keys, "_q", "_p", "_d", "_t", f"{mul('_p', '100 - _d')} AS _dp"
    )
    fixed = fixed.selectExpr(
        *keys, "_q", "_p", "_d", "_dp", f"{mul('_dp', '100 + _t')} AS _ch"
    )
    sums = [("_q", 2, "sum_qty"), ("_p", 2, "sum_base_price"),
            ("_dp", 4, "sum_disc_price"), ("_ch", 6, "sum_charge"),
            ("_d", 2, "_sd")]
    g = fixed.groupBy(*keys).agg(
        *[F.expr(f"CAST({exact_sum(c, s)} AS DOUBLE)").alias(n) for c, s, n in sums],
        F.count("*").alias("count_order"),
    )
    n = F.col("count_order")
    return g.select(
        *keys,
        "sum_qty",
        "sum_base_price",
        "sum_disc_price",
        "sum_charge",
        F.round(F.col("sum_qty") / n, 2).alias("avg_qty"),
        F.round(F.col("sum_base_price") / n, 2).alias("avg_price"),
        F.round(F.col("_sd") / n, 2).alias("avg_disc"),
        "count_order",
    )


register(
    "agg_group",
    PRICING_SUMMARY_SQL,
    "B12 flagship (TPC-H Q1 shape): hash aggregation with partial "
    "(map-side) combine — the shuffle carries only |groups| rows per "
    "task. Money sums exact (DECIMAL(18,2) semantics on BIGINT limbs): "
    "order-independent, so results are bit-identical at any cluster size "
    "(double sums are not).",
)(pricing_summary)


@register(
    "agg_distinct",
    """
    SELECT o_orderstatus, COUNT(DISTINCT o_custkey) AS distinct_custs,
           COUNT(*) AS order_cnt
    FROM orders GROUP BY o_orderstatus
    """,
    "B13: COUNT(DISTINCT) — Spark expands to a two-phase distinct agg.",
)
def agg_distinct(spark, sf_dir):
    o = T(spark, sf_dir, "orders")
    return o.groupBy("o_orderstatus").agg(
        F.countDistinct("o_custkey").alias("distinct_custs"),
        F.count("*").alias("order_cnt"),
    )


@register(
    "agg_approx_distinct",
    None,  # approximate — rows-only check
    "B13: approx_count_distinct (HyperLogLog++) — the 100 TB-scale variant "
    "of COUNT DISTINCT; no exact oracle by construction.",
)
def agg_approx_distinct(spark, sf_dir):
    o = T(spark, sf_dir, "orders")
    return o.groupBy("o_orderstatus").agg(
        F.approx_count_distinct("o_custkey", 0.01).alias("approx_custs")
    )


@register(
    "agg_rollup",
    """
    SELECT n_name, CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS sum_bal,
           COUNT(*) AS cust_cnt
    FROM customer JOIN nation ON c_nationkey = n_nationkey
    GROUP BY ROLLUP(n_name)
    """,
    "B14: ROLLUP — hierarchical totals incl. grand-total row (NULL key).",
)
def agg_rollup(spark, sf_dir):
    c = T(spark, sf_dir, "customer")
    n = T(spark, sf_dir, "nation")
    return (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .rollup("n_name")
        .agg(
            dsum("c_acctbal").alias("sum_bal"),
            F.count("*").alias("cust_cnt"),
        )
    )


@register(
    "agg_cube",
    """
    SELECT l_returnflag, l_linestatus,
           COUNT(*) AS cnt, ROUND(SUM(l_quantity), 2) AS sum_qty
    FROM lineitem GROUP BY CUBE(l_returnflag, l_linestatus)
    """,
    "B14: CUBE — all grouping-set combinations.",
)
def agg_cube(spark, sf_dir):
    li = T(spark, sf_dir, "lineitem")
    return li.cube("l_returnflag", "l_linestatus").agg(
        F.count("*").alias("cnt"),
        F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
    )


@register(
    "agg_having",
    """
    SELECT o_custkey, COUNT(*) AS order_cnt,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS spend
    FROM orders GROUP BY o_custkey
    HAVING COUNT(*) >= 5 AND SUM(CAST(o_totalprice AS DECIMAL(18,2))) > 500000
    """,
    "B15: HAVING — post-aggregation filter; the threshold compares the "
    "exact decimal sum so group membership is order-independent.",
)
def agg_having(spark, sf_dir):
    o = T(spark, sf_dir, "orders")
    return (
        o.groupBy("o_custkey")
        .agg(
            F.count("*").alias("order_cnt"),
            F.sum(dec("o_totalprice")).alias("_dec_spend"),
        )
        .filter((F.col("order_cnt") >= 5) & (F.col("_dec_spend") > 500000))
        .select(
            "o_custkey",
            "order_cnt",
            F.col("_dec_spend").cast("double").alias("spend"),
        )
    )


@register(
    "agg_percentile",
    """
    SELECT l_returnflag,
           ROUND(quantile_cont(l_extendedprice, 0.5), 3) AS median_price,
           ROUND(quantile_cont(l_extendedprice, 0.9), 3) AS p90_price
    FROM lineitem GROUP BY l_returnflag
    """,
    "B12: exact interpolated percentiles (MySQL 8 PERCENTILE_CONT "
    "parity). Rounded to 3 decimals: linear interpolation of 2-dp data "
    "yields at-most-3-dp exact values, so 3-dp rounding is never at a "
    "boundary (2-dp would be, e.g. a median of x.245). The approximate "
    "at-scale variant is agg_approx_percentile.",
)
def agg_percentile(spark, sf_dir):
    li = T(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(F.percentile("l_extendedprice", F.lit(0.5)), 3).alias(
            "median_price"
        ),
        F.round(F.percentile("l_extendedprice", F.lit(0.9)), 3).alias(
            "p90_price"
        ),
    )


@register(
    "agg_approx_percentile",
    None,  # approximate (t-digest style sketch) — rows-only
    "B12/C6: percentile_approx — the sketch-based percentile that "
    "replaces exact sorting at 100 TB.",
)
def agg_approx_percentile(spark, sf_dir):
    li = T(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.percentile_approx("l_extendedprice", 0.5, 10000).alias("median_approx")
    )


@register(
    "agg_stats",
    """
    SELECT l_returnflag,
           ROUND(STDDEV_SAMP(l_quantity), 4) AS qty_stddev,
           ROUND(VAR_SAMP(l_quantity), 4) AS qty_var,
           ROUND(MIN(l_extendedprice), 2) AS min_price,
           ROUND(MAX(l_extendedprice), 2) AS max_price
    FROM lineitem GROUP BY l_returnflag
    """,
    "B12: statistical aggregates (STDDEV/VARIANCE/MIN/MAX).",
)
def agg_stats(spark, sf_dir):
    li = T(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(F.stddev_samp("l_quantity"), 4).alias("qty_stddev"),
        F.round(F.var_samp("l_quantity"), 4).alias("qty_var"),
        F.round(F.min("l_extendedprice"), 2).alias("min_price"),
        F.round(F.max("l_extendedprice"), 2).alias("max_price"),
    )


@register(
    "agg_groupconcat",
    """
    SELECT n_name,
           array_to_string(list_sort(list_distinct(list(c_mktsegment))), ',')
             AS segments
    FROM customer JOIN nation ON c_nationkey = n_nationkey
    GROUP BY n_name
    """,
    "B12: MySQL GROUP_CONCAT(DISTINCT .. ORDER BY ..) parity via "
    "collect_set + array_sort + array_join (deterministic order).",
)
def agg_groupconcat(spark, sf_dir):
    c = T(spark, sf_dir, "customer")
    n = T(spark, sf_dir, "nation")
    return (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.array_join(
                F.array_sort(F.collect_set("c_mktsegment")), ","
            ).alias("segments")
        )
    )


@register(
    "filter_like",
    """
    SELECT p_partkey, p_name, p_type FROM part
    WHERE p_name LIKE '%ol%' AND p_type NOT LIKE 'ECO%'
      AND regexp_matches(p_name, '^(red|blue) ')
    """,
    "B5/B22: LIKE / NOT LIKE / regexp predicates (MySQL REGEXP parity).",
)
def filter_like(spark, sf_dir):
    p = T(spark, sf_dir, "part")
    return p.filter(
        F.col("p_name").like("%ol%")
        & ~F.col("p_type").like("ECO%")
        & F.col("p_name").rlike("^(red|blue) ")
    ).select("p_partkey", "p_name", "p_type")


# --------------------------------------------------------------------------
# B16-B18 — window functions
# --------------------------------------------------------------------------

@register(
    "window_rank",
    """
    SELECT o_orderkey, o_custkey,
           CAST(ROW_NUMBER() OVER w AS INT) AS rn,
           CAST(RANK() OVER w AS INT) AS rnk,
           CAST(DENSE_RANK() OVER w AS INT) AS drnk
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey)
    """,
    "B16: ranking window functions — one shuffle on the partition key.",
)
def window_rank(spark, sf_dir):
    o = T(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey")
    )
    return o.select(
        "o_orderkey",
        "o_custkey",
        F.row_number().over(w).alias("rn"),
        F.rank().over(w).alias("rnk"),
        F.dense_rank().over(w).alias("drnk"),
    )


@register(
    "window_lag",
    """
    SELECT event_id, user_id,
           ROUND(value - LAG(value) OVER (PARTITION BY user_id
                                          ORDER BY ts, event_id), 2) + 0 AS delta
    FROM events
    """,
    "B17: LAG — per-user event value deltas (NULL for first event).",
)
def window_lag(spark, sf_dir):
    e = T(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return e.select(
        "event_id",
        "user_id",
        (F.round(F.col("value") - F.lag("value").over(w), 2) + 0.0).alias("delta"),
    )


@register(
    "window_running",
    """
    SELECT o_orderkey, o_custkey,
           ROUND(SUM(o_totalprice) OVER (PARTITION BY o_custkey
                 ORDER BY o_orderdate, o_orderkey
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2)
             AS running_spend
    FROM orders
    """,
    "B18: running aggregate with explicit ROWS frame.",
)
def window_running(spark, sf_dir):
    o = T(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return o.select(
        "o_orderkey",
        "o_custkey",
        F.round(F.sum("o_totalprice").over(w), 2).alias("running_spend"),
    )


@register(
    "window_range_frame",
    """
    SELECT event_id, user_id,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) OVER (
             PARTITION BY user_id ORDER BY epoch(ts)
             RANGE BETWEEN 1800 PRECEDING AND CURRENT ROW
           ) AS DOUBLE) AS value_30m
    FROM events
    """,
    "B18: time-based RANGE frame — per-user rolling 30-minute value sum "
    "(sliding analytics without a groupBy window); frame bounds on epoch "
    "seconds so both engines agree exactly.",
)
def window_range_frame(spark, sf_dir):
    e = T(spark, sf_dir, "events")
    # wall-clock epoch via NTZ diff — unix_timestamp() would route the
    # NTZ value through the session timezone (DST gaps shift frames)
    epoch = F.expr("timestampdiff(SECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', ts)")
    w = (
        Window.partitionBy("user_id")
        .orderBy(epoch)
        .rangeBetween(-1800, Window.currentRow)
    )
    return e.select(
        "event_id",
        "user_id",
        F.sum(dec("value")).over(w).cast("double").alias("value_30m"),
    )


@register(
    "agg_corr",
    """
    SELECT l_returnflag,
           ROUND(CORR(l_quantity, l_extendedprice), 4) AS qty_price_corr,
           ROUND(COVAR_SAMP(l_quantity, l_extendedprice), 2) AS qty_price_covar
    FROM lineitem GROUP BY l_returnflag
    """,
    "B12: correlation / covariance aggregates.",
)
def agg_corr(spark, sf_dir):
    li = T(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(F.corr("l_quantity", "l_extendedprice"), 4).alias(
            "qty_price_corr"
        ),
        F.round(F.covar_samp("l_quantity", "l_extendedprice"), 2).alias(
            "qty_price_covar"
        ),
    )


# --------------------------------------------------------------------------
# B19-B21 — sort / limit / set ops
# --------------------------------------------------------------------------

@register(
    "sort_limit_topk",
    """
    SELECT o_orderkey, o_custkey, o_totalprice
    FROM orders ORDER BY o_totalprice DESC, o_orderkey LIMIT 10
    """,
    "B19/B20: top-k — Spark plans TakeOrderedAndProject (per-partition "
    "heap + driver merge, no global sort); tie-break on the unique key.",
)
def sort_limit_topk(spark, sf_dir):
    o = T(spark, sf_dir, "orders")
    return (
        o.orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
        .limit(10)
        .select("o_orderkey", "o_custkey", "o_totalprice")
    )


@register(
    "sort_limit_offset",
    """
    SELECT o_orderkey, o_totalprice
    FROM orders ORDER BY o_totalprice DESC, o_orderkey
    LIMIT 10 OFFSET 5
    """,
    "B20: LIMIT with OFFSET (pagination) — deterministic under the "
    "total order + unique tie-break.",
)
def sort_limit_offset(spark, sf_dir):
    o = T(spark, sf_dir, "orders")
    return (
        o.orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
        .offset(5)
        .limit(10)
        .select("o_orderkey", "o_totalprice")
    )


@register(
    "sort_nulls",
    """
    SELECT event_id, delta FROM (
      SELECT event_id,
             ROUND(value - LAG(value) OVER (PARTITION BY user_id
                                            ORDER BY ts, event_id), 2) + 0
               AS delta
      FROM events
    ) ORDER BY delta DESC NULLS LAST, event_id
    LIMIT 15
    """,
    "B19: explicit NULLS LAST ordering over a null-producing analytic "
    "(first event per user has no lag).",
)
def sort_nulls(spark, sf_dir):
    e = T(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return (
        e.select(
            "event_id",
            (F.round(F.col("value") - F.lag("value").over(w), 2) + 0.0).alias(
                "delta"
            ),
        )
        .orderBy(F.col("delta").desc_nulls_last(), F.col("event_id"))
        .limit(15)
    )


@register(
    "set_union",
    """
    SELECT c_nationkey AS nationkey, 'customer' AS side FROM customer
    UNION ALL
    SELECT s_nationkey AS nationkey, 'supplier' AS side FROM supplier
    """,
    "B21: UNION ALL via unionByName — no shuffle, pure concatenation.",
)
def set_union(spark, sf_dir):
    c = T(spark, sf_dir, "customer").select(
        F.col("c_nationkey").alias("nationkey"), F.lit("customer").alias("side")
    )
    s = T(spark, sf_dir, "supplier").select(
        F.col("s_nationkey").alias("nationkey"), F.lit("supplier").alias("side")
    )
    return c.unionByName(s)


@register(
    "set_intersect",
    """
    SELECT c_nationkey AS nationkey FROM customer
    INTERSECT
    SELECT s_nationkey AS nationkey FROM supplier
    """,
    "B21: INTERSECT (distinct semantics).",
)
def set_intersect(spark, sf_dir):
    c = T(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("nationkey"))
    s = T(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("nationkey"))
    return c.intersect(s)


@register(
    "set_except",
    """
    SELECT o_custkey AS custkey FROM orders
    EXCEPT
    SELECT c_custkey AS custkey FROM customer WHERE c_acctbal > 0
    """,
    "B21: EXCEPT (distinct semantics) via DataFrame.subtract — customers "
    "who ordered despite a non-positive account balance.",
)
def set_except(spark, sf_dir):
    o = T(spark, sf_dir, "orders").select(F.col("o_custkey").alias("custkey"))
    c = (
        T(spark, sf_dir, "customer")
        .filter(F.col("c_acctbal") > 0)
        .select(F.col("c_custkey").alias("custkey"))
    )
    return o.subtract(c)


@register(
    "set_ops",
    """
    SELECT 'union' AS op, c_nationkey AS k FROM customer
    UNION ALL
    SELECT 'union' AS op, s_nationkey AS k FROM supplier
    UNION ALL
    SELECT 'intersect' AS op, k FROM (
        SELECT c_nationkey AS k FROM customer
        INTERSECT
        SELECT s_nationkey AS k FROM supplier
    )
    UNION ALL
    SELECT 'except' AS op, k FROM (
        SELECT o_custkey AS k FROM orders
        EXCEPT
        SELECT c_custkey AS k FROM customer WHERE c_acctbal > 0
    )
    """,
    "B21 composite: UNION ALL + INTERSECT + EXCEPT in one result, tagged by "
    "op — drives all three set operators through one driver slot. Each leg "
    "is the same plan as its standalone query (concat / distinct-join).",
)
def set_ops(spark, sf_dir):
    c = T(spark, sf_dir, "customer")
    s = T(spark, sf_dir, "supplier")
    o = T(spark, sf_dir, "orders")
    union = c.select(F.col("c_nationkey").alias("k")).unionByName(
        s.select(F.col("s_nationkey").alias("k"))
    )
    inter = c.select(F.col("c_nationkey").alias("k")).intersect(
        s.select(F.col("s_nationkey").alias("k"))
    )
    exc = o.select(F.col("o_custkey").alias("k")).subtract(
        c.filter(F.col("c_acctbal") > 0).select(F.col("c_custkey").alias("k"))
    )
    tag = lambda df, name: df.select(F.lit(name).alias("op"), "k")  # noqa: E731
    return (
        tag(union, "union")
        .unionByName(tag(inter, "intersect"))
        .unionByName(tag(exc, "except"))
    )


# --------------------------------------------------------------------------
# B22-B27 — scalar function families
# --------------------------------------------------------------------------

@register(
    "str_funcs",
    """
    SELECT p_partkey,
           UPPER(p_name) AS name_upper,
           CAST(LENGTH(p_name) AS INT) AS name_len,
           SUBSTRING(p_name, 1, 5) AS name_pfx,
           p_brand || '#' || p_type AS brand_type,
           REGEXP_REPLACE(p_name, ' ', '_', 'g') AS name_snake,
           CAST(POSITION('e' IN p_name) AS INT) AS first_e
    FROM part
    """,
    "B22: string functions — UPPER/LENGTH/SUBSTR/CONCAT/REGEXP_REPLACE/"
    "POSITION, all codegen'd projections.",
)
def str_funcs(spark, sf_dir):
    p = T(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        F.upper("p_name").alias("name_upper"),
        F.length("p_name").alias("name_len"),
        F.substring("p_name", 1, 5).alias("name_pfx"),
        F.concat_ws("#", "p_brand", "p_type").alias("brand_type"),
        F.regexp_replace("p_name", " ", "_").alias("name_snake"),
        F.instr(F.col("p_name"), "e").alias("first_e"),
    )


@register(
    "date_funcs",
    """
    SELECT o_orderkey,
           CAST(YEAR(o_orderdate) AS INT) AS o_year,
           CAST(MONTH(o_orderdate) AS INT) AS o_month,
           STRFTIME(o_orderdate, '%Y-%m') AS o_ym,
           CAST(o_orderdate + INTERVAL 30 DAY AS DATE) AS due_date,
           CAST(DATEDIFF('day', DATE '1995-01-01', o_orderdate) AS INT) AS days_since,
           CAST(DATE_TRUNC('quarter', o_orderdate) AS DATE) AS o_quarter
    FROM orders
    """,
    "B23: temporal functions — YEAR/MONTH/FORMAT/DATE_ADD/DATEDIFF/TRUNC.",
)
def date_funcs(spark, sf_dir):
    o = T(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        F.year("o_orderdate").alias("o_year"),
        F.month("o_orderdate").alias("o_month"),
        F.date_format("o_orderdate", "yyyy-MM").alias("o_ym"),
        F.date_add("o_orderdate", 30).alias("due_date"),
        F.datediff("o_orderdate", F.lit("1995-01-01")).alias("days_since"),
        F.date_trunc("quarter", "o_orderdate").cast("date").alias("o_quarter"),
    )


@register(
    "math_funcs",
    """
    SELECT l_orderkey, l_linenumber,
           ROUND(ABS(l_extendedprice - 50000), 2) AS abs_diff,
           CAST(FLOOR(l_extendedprice) AS BIGINT) AS price_floor,
           CAST(CEIL(l_extendedprice) AS BIGINT) AS price_ceil,
           l_orderkey % 7 AS key_mod,
           ROUND(POW(1 + l_discount, 2), 4) AS disc_sq,
           ROUND(LN(l_extendedprice), 4) AS price_ln,
           ROUND(SQRT(l_quantity), 4) AS qty_sqrt
    FROM lineitem
    """,
    "B24: math functions — ABS/FLOOR/CEIL/MOD/POW/LN/SQRT.",
)
def math_funcs(spark, sf_dir):
    li = T(spark, sf_dir, "lineitem")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.round(F.abs(F.col("l_extendedprice") - 50000), 2).alias("abs_diff"),
        F.floor("l_extendedprice").alias("price_floor"),
        F.ceil("l_extendedprice").alias("price_ceil"),
        (F.col("l_orderkey") % 7).alias("key_mod"),
        F.round(F.pow(1 + F.col("l_discount"), 2), 4).alias("disc_sq"),
        F.round(F.log("l_extendedprice"), 4).alias("price_ln"),
        F.round(F.sqrt("l_quantity"), 4).alias("qty_sqrt"),
    )


@register(
    "cond_funcs",
    """
    SELECT o_orderkey,
           CASE o_orderstatus WHEN 'F' THEN 'finished'
                              WHEN 'O' THEN 'open'
                              ELSE 'pending' END AS status_word,
           CASE WHEN o_totalprice > 250000 THEN 'big' ELSE 'small' END AS size_word,
           COALESCE(NULLIF(o_orderpriority, '1-URGENT'), 'TOP') AS prio
    FROM orders
    """,
    "B25: CASE WHEN / IF / COALESCE / NULLIF.",
)
def cond_funcs(spark, sf_dir):
    o = T(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        F.when(F.col("o_orderstatus") == "F", "finished")
        .when(F.col("o_orderstatus") == "O", "open")
        .otherwise("pending")
        .alias("status_word"),
        F.when(F.col("o_totalprice") > 250000, "big")
        .otherwise("small")
        .alias("size_word"),
        F.coalesce(
            F.nullif(F.col("o_orderpriority"), F.lit("1-URGENT")), F.lit("TOP")
        ).alias("prio"),
    )


@register(
    "json_funcs",
    """
    SELECT event_id,
           json_extract_string(props, '$.k') AS k_str,
           CAST(json_extract_string(props, '$.k') AS INT) AS k_int
    FROM events
    """,
    "B27: JSON extraction (MySQL JSON_EXTRACT parity) via get_json_object.",
)
def json_funcs(spark, sf_dir):
    e = T(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k")
    return e.select(
        "event_id", k.alias("k_str"), k.cast("int").alias("k_int")
    )


@register(
    "json_struct",
    """
    SELECT event_id,
           CAST(json_extract_string(props, '$.k') AS INT) AS k,
           CASE WHEN json_extract_string(props, '$.missing') IS NULL
                THEN 'absent' ELSE 'present' END AS missing_state
    FROM events
    """,
    "B27: typed JSON parsing — from_json with an explicit schema "
    "(vs get_json_object string extraction in json_funcs); absent keys "
    "surface as NULL struct fields.",
)
def json_struct(spark, sf_dir):
    e = T(spark, sf_dir, "events")
    parsed = F.from_json("props", "k INT, missing STRING")
    return e.select(
        "event_id",
        parsed.getField("k").alias("k"),
        F.when(parsed.getField("missing").isNull(), "absent")
        .otherwise("present")
        .alias("missing_state"),
    )


@register(
    "date_parts",
    """
    SELECT o_orderkey,
           CAST(dayofweek(o_orderdate) + 1 AS INT) AS dow,
           CAST(dayofyear(o_orderdate) AS INT) AS doy,
           CAST(weekofyear(o_orderdate) AS INT) AS woy,
           CAST(quarter(o_orderdate) AS INT) AS qtr,
           CAST(last_day(o_orderdate) AS DATE) AS month_end,
           CAST(hour(o_orderdate) AS INT) AS hr
    FROM orders
    """,
    "B23: MySQL date-part parity — DAYOFWEEK/DAYOFYEAR/WEEK/QUARTER/"
    "LAST_DAY/HOUR. Spark dayofweek is 1-based Sunday (MySQL semantics); "
    "DuckDB's is 0-based, hence the +1 in the oracle.",
)
def date_parts(spark, sf_dir):
    o = T(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        F.dayofweek("o_orderdate").alias("dow"),
        F.dayofyear("o_orderdate").alias("doy"),
        F.weekofyear("o_orderdate").alias("woy"),
        F.quarter("o_orderdate").alias("qtr"),
        F.last_day("o_orderdate").alias("month_end"),
        F.hour("o_orderdate").alias("hr"),
    )


@register(
    "array_funcs",
    """
    SELECT vec_id,
           CAST(LEN(embedding) AS INT) AS dim,
           ROUND(CAST(embedding[1] AS DOUBLE), 4) + 0 AS first_elem,
           ROUND(CAST(LIST_MAX(embedding) AS DOUBLE), 4) + 0 AS max_elem,
           ROUND(LIST_SUM(LIST_TRANSFORM(embedding, x -> CAST(x AS DOUBLE))), 2) + 0
             AS sum_elems
    FROM embeddings
    """,
    "B28: array higher-order functions (size/element_at/array_max/"
    "aggregate) — double-precision fold matches the oracle's.",
)
def array_funcs(spark, sf_dir):
    e = T(spark, sf_dir, "embeddings")
    return e.select(
        "vec_id",
        F.size("embedding").alias("dim"),
        (F.round(F.element_at("embedding", 1).cast("double"), 4) + 0.0).alias(
            "first_elem"
        ),
        (F.round(F.array_max("embedding").cast("double"), 4) + 0.0).alias(
            "max_elem"
        ),
        (
            F.round(
                F.aggregate(
                    "embedding", F.lit(0.0), lambda a, x: a + x.cast("double")
                ),
                2,
            )
            + 0.0
        ).alias("sum_elems"),
    )


# --------------------------------------------------------------------------
# B29 — subqueries / CTEs (via spark.sql — dialect-shared text)
# --------------------------------------------------------------------------

_SUBQUERY_CTE_SQL = """
    WITH stats AS (SELECT AVG(c_acctbal) AS avg_bal FROM customer),
         rich AS (
           SELECT c_custkey, c_name, c_acctbal
           FROM customer, stats WHERE c_acctbal > avg_bal
         )
    SELECT r.c_custkey, r.c_name, ROUND(r.c_acctbal, 2) AS acctbal,
           CAST((SELECT COUNT(*) FROM orders o
                 WHERE o.o_custkey = r.c_custkey) AS BIGINT) AS order_cnt
    FROM rich r
"""


@register(
    "subquery_cte",
    _SUBQUERY_CTE_SQL,
    "B29: CTE + scalar subquery + correlated subquery — the SAME SQL text "
    "runs on Spark SQL and on the DuckDB oracle; Catalyst decorrelates the "
    "correlated COUNT into a join.",
)
def subquery_cte(spark, sf_dir):
    register_tables(spark, sf_dir, only=["customer", "orders"])
    return spark.sql(_SUBQUERY_CTE_SQL)
