"""Fifth relational batch: remaining classic TPC-H shapes adapted to
the fixture schema (no partsupp/shipmode/commitdate columns), plus a
statistical-aggregate surface built on exact decimal power sums.

Reference parity: the reference never writes SQL (SURVEY §3 — its
plans are imperative NumPy call graphs); this tier is the SURVEY §7
step 1 "free extensions" surface. Shapes covered:

- Q14 conditional-aggregation ratio (promo revenue share)
- Q19 disjunctive OR-of-ANDs predicate (pushdown-stressing)
- Q10 returned-item revenue top-k (multi-join + TakeOrdered)
- Q22 anti join + global scalar aggregate (customers with no orders)
- Q9  profit rollup by nation × year (derived cost, no partsupp)
- moment statistics (skewness/kurtosis/corr/regression) from ONE pass
  of exact decimal power sums — the map-side-combinable form that
  scales to 100 TB (constant state per group, one shuffle), unlike a
  naive two-pass mean-then-moments plan
- aggregate predicates (count_if / bool_and / bool_or)
- deterministic sorted string aggregation

Cross-engine determinism: every double that feeds a comparison or
output is derived from exact DECIMAL sums with the identical
expression tree on the Spark and DuckDB sides (same IEEE ops in the
same order → identical bits), with `round(..., 6)` only as a final
belt-and-suspenders. `sqrt(m2) * m2` replaces `pow(m2, 1.5)` because
sqrt/mul are correctly-rounded IEEE ops while pow is not.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ._util import _SQL_REV, _dec, _revenue, t, registry

QUERIES, ORACLES, _q = registry()


# ---------------------------------------------------------------------------
# TPC-H Q14 shape: promo revenue share. One lineitem scan, part side
# broadcast (100 rows — 2M at SF100, still broadcastable at 100 TB
# fact scale), conditional decimal sums, ratio formed in double at the
# very end. No shuffle of the fact table at all: partial aggregates
# collapse to a single row.
@_q(
    "q14_promo_ratio",
    f"""
    SELECT round(100.0 * CAST(SUM(CASE WHEN p_type = 'PROMO'
                                       THEN {_SQL_REV} END) AS DOUBLE)
                 / CAST(SUM({_SQL_REV}) AS DOUBLE), 6) AS promo_pct,
           COUNT(*) AS n_lines
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      AND l_shipdate < TIMESTAMP '1997-01-01'
    """,
)
def q_q14_promo_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    part = t(spark, sf_dir, "part").select("p_partkey", "p_type")
    j = li.join(F.broadcast(part), li["l_partkey"] == part["p_partkey"])
    rev = _revenue()
    agg = j.agg(
        F.sum(F.when(F.col("p_type") == "PROMO", rev)).alias("_promo"),
        F.sum(rev).alias("_total"),
        F.count(F.lit(1)).alias("n_lines"),
    )
    return agg.select(
        F.round(
            F.lit(100.0)
            * F.col("_promo").cast("double")
            / F.col("_total").cast("double"),
            6,
        ).alias("promo_pct"),
        "n_lines",
    )


# ---------------------------------------------------------------------------
# TPC-H Q19 shape: disjunctive OR-of-ANDs over a join. Catalyst
# extracts the common `l_partkey = p_partkey` conjunct so this still
# plans as an equi join (not a nested loop), and pushes the
# lineitem-only disjuncts (quantity ranges) to the scan. That rewrite
# is what keeps a 100 TB scan from materializing a cross product.
@_q(
    "q19_disjunctive_pred",
    f"""
    SELECT CAST(SUM({_SQL_REV}) AS DOUBLE) AS revenue, COUNT(*) AS n_lines
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15
           AND l_quantity >= 1 AND l_quantity <= 21)
       OR (p_brand = 'Brand#13' AND p_size BETWEEN 1 AND 30
           AND l_quantity >= 10 AND l_quantity <= 40)
       OR (p_type = 'ECONOMY' AND p_size BETWEEN 1 AND 50
           AND l_quantity >= 20 AND l_quantity <= 50)
    """,
)
def q_q19_disjunctive_pred(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem")
    part = t(spark, sf_dir, "part")
    j = li.join(F.broadcast(part), li["l_partkey"] == part["p_partkey"])
    q = F.col("l_quantity")
    sz = F.col("p_size")
    cond = (
        (
            (F.col("p_brand") == "Brand#1")
            & sz.between(1, 15)
            & (q >= 1)
            & (q <= 21)
        )
        | (
            (F.col("p_brand") == "Brand#13")
            & sz.between(1, 30)
            & (q >= 10)
            & (q <= 40)
        )
        | (
            (F.col("p_type") == "ECONOMY")
            & sz.between(1, 50)
            & (q >= 20)
            & (q <= 50)
        )
    )
    return j.where(cond).agg(
        F.sum(_revenue()).cast("double").alias("revenue"),
        F.count(F.lit(1)).alias("n_lines"),
    )


# ---------------------------------------------------------------------------
# TPC-H Q10 shape: revenue lost to returns, by customer, top 20. The
# lineitem side pre-aggregates per order BEFORE joining (cuts the join
# input by the lines-per-order factor); customer/nation broadcast;
# TakeOrderedAndProject caps the result without a global sort.
# Tie-break on c_custkey makes the top-k deterministic.
@_q(
    "q10_returned_revenue",
    f"""
    SELECT c.c_custkey, c.c_name, n.n_name,
           CAST(SUM(rev) AS DOUBLE) AS revenue
    FROM (SELECT l_orderkey, SUM({_SQL_REV}) AS rev
          FROM lineitem WHERE l_returnflag = 'R'
          GROUP BY l_orderkey) lr
    JOIN orders o ON o.o_orderkey = lr.l_orderkey
    JOIN customer c ON c.c_custkey = o.o_custkey
    JOIN nation n ON n.n_nationkey = c.c_nationkey
    GROUP BY c.c_custkey, c.c_name, n.n_name
    ORDER BY revenue DESC, c_custkey
    LIMIT 20
    """,
)
def q_q10_returned_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem")
    orders = t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    cust = t(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_nationkey"
    )
    nation = t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    per_order = (
        li.where(F.col("l_returnflag") == "R")
        .groupBy("l_orderkey")
        .agg(F.sum(_revenue()).alias("rev"))
    )
    j = (
        per_order.join(
            orders, per_order["l_orderkey"] == orders["o_orderkey"]
        )
        .join(F.broadcast(cust), orders["o_custkey"] == cust["c_custkey"])
        .join(
            F.broadcast(nation), cust["c_nationkey"] == nation["n_nationkey"]
        )
    )
    return (
        j.groupBy("c_custkey", "c_name", "n_name")
        .agg(F.sum("rev").cast("double").alias("revenue"))
        .orderBy(F.desc("revenue"), F.asc("c_custkey"))
        .limit(20)
    )


# ---------------------------------------------------------------------------
# TPC-H Q22 shape: well-funded customers with no big-ticket order.
# Two new plan features vs the rest of the registry: a LEFT ANTI join
# (the NOT EXISTS de-correlation) and a global scalar aggregate reused
# as a filter. The anti join's build side is the distinct o_custkey
# set AFTER the price filter (pushed to the orders scan); the scalar
# avg is one row broadcast. Both sides scan once.
@_q(
    "q22_anti_idle_customers",
    """
    SELECT c_mktsegment, COUNT(*) AS n_cust,
           CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS total_bal
    FROM customer c
    WHERE c_acctbal > (SELECT AVG(c_acctbal) FROM customer
                       WHERE c_acctbal > 0)
      AND NOT EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = c.c_custkey
                        AND o.o_totalprice > 250000)
    GROUP BY c_mktsegment
    """,
)
def q_q22_anti_idle_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = t(spark, sf_dir, "customer")
    orders = (
        t(spark, sf_dir, "orders")
        .where(F.col("o_totalprice") > 250000)
        .select("o_custkey")
    )
    # Global scalar: avg over positive balances. DuckDB's AVG(double)
    # sums doubles in row order; replicate exactly via decimal-sum /
    # count (order-free) — c_acctbal is a 2dp measure.
    avg_row = cust.where(F.col("c_acctbal") > 0).agg(
        (
            F.sum(_dec("c_acctbal")).cast("double")
            / F.count(F.col("c_acctbal"))
        ).alias("_avg")
    )
    rich = cust.join(F.broadcast(avg_row)).where(
        F.col("c_acctbal") > F.col("_avg")
    )
    idle = rich.join(
        orders, rich["c_custkey"] == orders["o_custkey"], "left_anti"
    )
    return idle.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n_cust"),
        F.sum(_dec("c_acctbal")).cast("double").alias("total_bal"),
    )


# ---------------------------------------------------------------------------
# TPC-H Q9 shape: profit by nation × order-year. No partsupp fixture,
# so cost is derived as p_retailprice × l_quantity × 0.10 (exact
# decimal). Joins: two broadcast dims (part, supplier→nation) plus one
# shuffle join to orders for the year — the fact table shuffles once,
# on its join key, which is the unavoidable minimum for this shape.
@_q(
    "q9_profit_nation_year",
    f"""
    SELECT n.n_name AS nation,
           CAST(year(o.o_orderdate) AS INT) AS o_year,
           CAST(SUM({_SQL_REV}
                    - CAST(p_retailprice AS DECIMAL(18,2))
                      * CAST(l_quantity AS DECIMAL(18,2)) * 0.10)
                AS DOUBLE) AS profit
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey
    JOIN supplier s ON s.s_suppkey = l.l_suppkey
    JOIN nation n ON n.n_nationkey = s.s_nationkey
    JOIN orders o ON o.o_orderkey = l.l_orderkey
    GROUP BY nation, o_year
    """,
)
def q_q9_profit_nation_year(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem")
    part = t(spark, sf_dir, "part").select("p_partkey", "p_retailprice")
    supp = t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    nation = t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    orders = t(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    profit = _revenue() - _dec("p_retailprice") * _dec("l_quantity") * F.lit(
        "0.10"
    ).cast("decimal(3,2)")
    j = (
        li.join(F.broadcast(part), li["l_partkey"] == part["p_partkey"])
        .join(F.broadcast(supp), li["l_suppkey"] == supp["s_suppkey"])
        .join(
            F.broadcast(nation), supp["s_nationkey"] == nation["n_nationkey"]
        )
        .join(orders, li["l_orderkey"] == orders["o_orderkey"])
    )
    return (
        j.groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").cast("int").alias("o_year"),
        )
        .agg(F.sum(profit).cast("double").alias("profit"))
    )


# ---------------------------------------------------------------------------
# Moment statistics from exact decimal power sums — ONE aggregation
# pass yields n, Σx, Σx², Σx³, Σx⁴ per group (all map-side
# combinable, constant state), from which mean / stddev / skewness /
# excess kurtosis derive in closed form. This is the 100 TB-safe plan:
# a naive mean-then-centered-moments approach needs two full passes
# and is order-sensitive in double. Staged decimal casts keep every
# power exact (quantity ≤ 50, 2dp → x⁴ ≤ 6.25e6, 8dp).
@_q(
    "stats_moments",
    """
    WITH s AS (
      SELECT l_returnflag,
             CAST(COUNT(*) AS DOUBLE) AS n,
             CAST(SUM(CAST(l_quantity AS DECIMAL(9,2))) AS DOUBLE) AS s1,
             CAST(SUM(CAST(CAST(l_quantity AS DECIMAL(9,2))
                           * CAST(l_quantity AS DECIMAL(9,2))
                           AS DECIMAL(9,4))) AS DOUBLE) AS s2,
             CAST(SUM(CAST(CAST(CAST(l_quantity AS DECIMAL(9,2))
                                * CAST(l_quantity AS DECIMAL(9,2))
                                AS DECIMAL(9,4))
                           * CAST(l_quantity AS DECIMAL(9,2))
                           AS DECIMAL(12,6))) AS DOUBLE) AS s3,
             CAST(SUM(CAST(CAST(CAST(l_quantity AS DECIMAL(9,2))
                                * CAST(l_quantity AS DECIMAL(9,2))
                                AS DECIMAL(9,4))
                           * CAST(CAST(l_quantity AS DECIMAL(9,2))
                                  * CAST(l_quantity AS DECIMAL(9,2))
                                  AS DECIMAL(9,4))
                           AS DECIMAL(16,8))) AS DOUBLE) AS s4
      FROM lineitem GROUP BY l_returnflag
    ), m AS (
      SELECT l_returnflag, n, s1 / n AS mean,
             s2 / n - (s1 / n) * (s1 / n) AS m2,
             s3 / n - 3 * (s1 / n) * (s2 / n)
                    + 2 * (s1 / n) * (s1 / n) * (s1 / n) AS m3,
             s4 / n - 4 * (s1 / n) * (s3 / n)
                    + 6 * (s1 / n) * (s1 / n) * (s2 / n)
                    - 3 * (s1 / n) * (s1 / n) * (s1 / n) * (s1 / n) AS m4
      FROM s
    )
    SELECT l_returnflag, CAST(n AS BIGINT) AS n,
           round(mean, 6) AS mean,
           round(sqrt(m2), 6) AS stddev_pop,
           round(m3 / (sqrt(m2) * m2), 6) AS skewness_pop,
           round(m4 / (m2 * m2) - 3, 6) AS kurtosis_excess
    FROM m
    """,
)
def q_stats_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem")
    xd = F.col("l_quantity").cast("decimal(9,2)")
    x2 = (xd * xd).cast("decimal(9,4)")
    x3 = (x2 * xd).cast("decimal(12,6)")
    x4 = (x2 * x2).cast("decimal(16,8)")
    s = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum(xd).cast("double").alias("s1"),
        F.sum(x2).cast("double").alias("s2"),
        F.sum(x3).cast("double").alias("s3"),
        F.sum(x4).cast("double").alias("s4"),
    )
    n, s1, s2, s3, s4 = (F.col(c) for c in ("n", "s1", "s2", "s3", "s4"))
    mean = s1 / n
    m2 = s2 / n - (s1 / n) * (s1 / n)
    m3 = (
        s3 / n
        - F.lit(3) * (s1 / n) * (s2 / n)
        + F.lit(2) * (s1 / n) * (s1 / n) * (s1 / n)
    )
    m4 = (
        s4 / n
        - F.lit(4) * (s1 / n) * (s3 / n)
        + F.lit(6) * (s1 / n) * (s1 / n) * (s2 / n)
        - F.lit(3) * (s1 / n) * (s1 / n) * (s1 / n) * (s1 / n)
    )
    return s.select(
        "l_returnflag",
        n.cast("bigint").alias("n"),
        F.round(mean, 6).alias("mean"),
        F.round(F.sqrt(m2), 6).alias("stddev_pop"),
        F.round(m3 / (F.sqrt(m2) * m2), 6).alias("skewness_pop"),
        F.round(m4 / (m2 * m2) - F.lit(3), 6).alias("kurtosis_excess"),
    )


# ---------------------------------------------------------------------------
# Correlation / regression from the same one-pass decimal-sum pattern:
# corr(x,y), covar_samp, regr_slope, regr_intercept over
# (quantity, extendedprice) per returnflag. Identical closed forms on
# both sides → bit-stable; built-ins are avoided because their
# double accumulation is partition-order-dependent.
@_q(
    "corr_regression",
    """
    WITH s AS (
      SELECT l_returnflag,
             CAST(COUNT(*) AS DOUBLE) AS n,
             CAST(SUM(CAST(l_quantity AS DECIMAL(9,2))) AS DOUBLE) AS sx,
             CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE)
               AS sy,
             CAST(SUM(CAST(CAST(l_quantity AS DECIMAL(9,2))
                           * CAST(l_quantity AS DECIMAL(9,2))
                           AS DECIMAL(9,4))) AS DOUBLE) AS sxx,
             CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(12,2))
                           * CAST(l_extendedprice AS DECIMAL(12,2))
                           AS DECIMAL(16,4))) AS DOUBLE) AS syy,
             CAST(SUM(CAST(CAST(l_quantity AS DECIMAL(9,2))
                           * CAST(l_extendedprice AS DECIMAL(12,2))
                           AS DECIMAL(14,4))) AS DOUBLE) AS sxy
      FROM lineitem GROUP BY l_returnflag
    )
    SELECT l_returnflag, CAST(n AS BIGINT) AS n,
           round((n * sxy - sx * sy)
                 / (sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy)), 6)
             AS corr_qty_price,
           round((sxy - sx * sy / n) / (n - 1), 6) AS covar_samp,
           round((n * sxy - sx * sy) / (n * sxx - sx * sx), 6)
             AS regr_slope,
           round((sy - ((n * sxy - sx * sy) / (n * sxx - sx * sx)) * sx)
                 / n, 6) AS regr_intercept
    FROM s
    """,
)
def q_corr_regression(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem")
    xd = F.col("l_quantity").cast("decimal(9,2)")
    yd = F.col("l_extendedprice").cast("decimal(12,2)")
    s = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum(xd).cast("double").alias("sx"),
        F.sum(yd).cast("double").alias("sy"),
        F.sum((xd * xd).cast("decimal(9,4)")).cast("double").alias("sxx"),
        F.sum((yd * yd).cast("decimal(16,4)")).cast("double").alias("syy"),
        F.sum((xd * yd).cast("decimal(14,4)")).cast("double").alias("sxy"),
    )
    n, sx, sy, sxx, syy, sxy = (
        F.col(c) for c in ("n", "sx", "sy", "sxx", "syy", "sxy")
    )
    slope = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    return s.select(
        "l_returnflag",
        n.cast("bigint").alias("n"),
        F.round(
            (n * sxy - sx * sy)
            / (F.sqrt(n * sxx - sx * sx) * F.sqrt(n * syy - sy * sy)),
            6,
        ).alias("corr_qty_price"),
        F.round((sxy - sx * sy / n) / (n - F.lit(1)), 6).alias("covar_samp"),
        F.round(slope, 6).alias("regr_slope"),
        F.round((sy - slope * sx) / n, 6).alias("regr_intercept"),
    )


# ---------------------------------------------------------------------------
# Aggregate predicates: count_if / bool_and / bool_or — all three are
# map-side combinable single-bit/counter state, the cheapest possible
# aggregates at scale.
@_q(
    "agg_predicates",
    """
    SELECT o_orderpriority,
           CAST(count_if(o_totalprice > 200000) AS BIGINT) AS n_big,
           bool_and(o_totalprice > 0) AS all_positive,
           bool_or(o_orderstatus = 'O') AS any_open,
           CAST(count_if(o_orderstatus = 'F' AND o_totalprice > 150000) AS BIGINT)
             AS n_big_finished
    FROM orders
    GROUP BY o_orderpriority
    """,
)
def q_agg_predicates(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = t(spark, sf_dir, "orders")
    return orders.groupBy("o_orderpriority").agg(
        F.count_if(F.col("o_totalprice") > 200000).alias("n_big"),
        F.bool_and(F.col("o_totalprice") > 0).alias("all_positive"),
        F.bool_or(F.col("o_orderstatus") == "O").alias("any_open"),
        F.count_if(
            (F.col("o_orderstatus") == "F") & (F.col("o_totalprice") > 150000)
        ).alias("n_big_finished"),
    )


# ---------------------------------------------------------------------------
# Deterministic sorted string aggregation: collect_list has no defined
# order under parallelism, so the engine's canonical form is
# array_join(array_sort(collect_list(...))) — order-free and therefore
# partition-count-independent, matching DuckDB's ORDER BY'd
# string_agg. Grouped collect state is bounded here (≤ nations per
# region); for unbounded groups prefer a windowed top-k first.
@_q(
    "stringagg_sorted",
    """
    SELECT r.r_name,
           COUNT(*) AS n_nations,
           string_agg(n.n_name, ',' ORDER BY n.n_name) AS nations_csv
    FROM nation n JOIN region r ON r.r_regionkey = n.n_regionkey
    GROUP BY r.r_name
    """,
)
def q_stringagg_sorted(spark: SparkSession, sf_dir: str) -> DataFrame:
    nation = t(spark, sf_dir, "nation")
    region = t(spark, sf_dir, "region")
    j = nation.join(
        F.broadcast(region),
        nation["n_regionkey"] == region["r_regionkey"],
    )
    return j.groupBy("r_name").agg(
        F.count(F.lit(1)).alias("n_nations"),
        F.array_join(F.array_sort(F.collect_list("n_name")), ",").alias(
            "nations_csv"
        ),
    )


# ---------------------------------------------------------------------------
# TPC-H Q2 shape: min-cost supplier per part (correlated MIN
# subquery). De-correlated Spark form: ONE aggregation with
# min_by(struct) — argmin with a deterministic s_suppkey tiebreak —
# instead of the naive min-then-join-back double scan the SQL implies.
# The supplier dim broadcasts; lineitem provides the part↔supplier
# relation and shuffles once on l_partkey.
@_q(
    "q2_min_cost_supplier",
    """
    WITH ps AS (
      SELECT DISTINCT l_partkey, l_suppkey FROM lineitem
    ), ranked AS (
      SELECT ps.l_partkey, s.s_suppkey, s.s_name, s.s_acctbal,
             row_number() OVER (PARTITION BY ps.l_partkey
                                ORDER BY s.s_acctbal, s.s_suppkey) AS rn
      FROM ps JOIN supplier s ON s.s_suppkey = ps.l_suppkey
    )
    SELECT l_partkey AS p_partkey, s_suppkey, s_name,
           CAST(s_acctbal AS DOUBLE) AS min_acctbal
    FROM ranked WHERE rn = 1
    """,
)
def q_q2_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey").distinct()
    supp = t(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_name", "s_acctbal"
    )
    j = li.join(F.broadcast(supp), li["l_suppkey"] == supp["s_suppkey"])
    best = F.min_by(
        F.struct("s_suppkey", "s_name", "s_acctbal"),
        F.struct(F.col("s_acctbal").alias("a"), F.col("s_suppkey").alias("k")),
    )
    return (
        j.groupBy(F.col("l_partkey").alias("p_partkey"))
        .agg(best.alias("b"))
        .select(
            "p_partkey",
            F.col("b.s_suppkey").alias("s_suppkey"),
            F.col("b.s_name").alias("s_name"),
            F.col("b.s_acctbal").cast("double").alias("min_acctbal"),
        )
    )


# ---------------------------------------------------------------------------
# TPC-H Q7 shape: bilateral trade volume — revenue by (supplier
# nation, customer nation, year) for two selected nation pairs. Two
# independent dimension chains hang off the same fact row (supplier
# side and customer side); both broadcast, the fact shuffles once for
# the orders join, and the pair predicate applies post-join (it needs
# both chains).
@_q(
    "q7_nation_volume",
    f"""
    SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
           CAST(year(o.o_orderdate) AS INT) AS o_year,
           CAST(SUM({_SQL_REV}) AS DOUBLE) AS revenue
    FROM lineitem l
    JOIN supplier s ON s.s_suppkey = l.l_suppkey
    JOIN nation sn ON sn.n_nationkey = s.s_nationkey
    JOIN orders o ON o.o_orderkey = l.l_orderkey
    JOIN customer c ON c.c_custkey = o.o_custkey
    JOIN nation cn ON cn.n_nationkey = c.c_nationkey
    WHERE (sn.n_name = 'NATION_1' AND cn.n_name = 'NATION_2')
       OR (sn.n_name = 'NATION_2' AND cn.n_name = 'NATION_1')
    GROUP BY supp_nation, cust_nation, o_year
    """,
)
def q_q7_nation_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem")
    supp = t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    cust = t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    nation = t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    orders = t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderdate"
    )
    sn = nation.select(
        F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation")
    )
    cn = nation.select(
        F.col("n_nationkey").alias("cn_key"), F.col("n_name").alias("cust_nation")
    )
    j = (
        li.join(F.broadcast(supp), li["l_suppkey"] == supp["s_suppkey"])
        .join(F.broadcast(sn), F.col("s_nationkey") == F.col("sn_key"))
        .join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .join(F.broadcast(cust), orders["o_custkey"] == cust["c_custkey"])
        .join(F.broadcast(cn), F.col("c_nationkey") == F.col("cn_key"))
    )
    pair = (
        (F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2")
    ) | (
        (F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1")
    )
    return (
        j.where(pair)
        .groupBy(
            "supp_nation",
            "cust_nation",
            F.year("o_orderdate").cast("int").alias("o_year"),
        )
        .agg(F.sum(_revenue()).cast("double").alias("revenue"))
    )


# ---------------------------------------------------------------------------
# TPC-H Q8 shape: market share — one nation's fraction of total
# revenue per year. Numerator and denominator come from the SAME
# single aggregation pass (conditional sum over the full join), not
# two scans; the ratio forms in double at the end.
@_q(
    "q8_market_share",
    f"""
    SELECT CAST(year(o.o_orderdate) AS INT) AS o_year,
           round(CAST(SUM(CASE WHEN sn.n_name = 'NATION_3'
                               THEN {_SQL_REV} END) AS DOUBLE)
                 / CAST(SUM({_SQL_REV}) AS DOUBLE), 6) AS mkt_share
    FROM lineitem l
    JOIN supplier s ON s.s_suppkey = l.l_suppkey
    JOIN nation sn ON sn.n_nationkey = s.s_nationkey
    JOIN orders o ON o.o_orderkey = l.l_orderkey
    GROUP BY o_year
    """,
)
def q_q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem")
    supp = t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    nation = t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    orders = t(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    j = (
        li.join(F.broadcast(supp), li["l_suppkey"] == supp["s_suppkey"])
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(orders, li["l_orderkey"] == orders["o_orderkey"])
    )
    rev = _revenue()
    agg = j.groupBy(F.year("o_orderdate").cast("int").alias("o_year")).agg(
        F.sum(F.when(F.col("n_name") == "NATION_3", rev)).alias("_n"),
        F.sum(rev).alias("_d"),
    )
    return agg.select(
        "o_year",
        F.round(
            F.col("_n").cast("double") / F.col("_d").cast("double"), 6
        ).alias("mkt_share"),
    )
