"""Sixth relational batch: the remaining classic TPC-H query shapes
(Q4, Q6, Q11–Q13, Q15–Q18, Q20, Q21) adapted to the fixture schema.

The fixture has no partsupp table and no l_shipmode / l_commitdate /
l_receiptdate / o_comment columns (TESTDATA.md), so each query keeps
its defining PLAN SHAPE while substituting available columns, with the
deviation documented per query:

- partsupp-derived relations (Q11/Q16/Q20) use the DISTINCT
  (l_partkey, l_suppkey) pairs observed in lineitem;
- Q4's "committed late" becomes "shipped after the order date";
- Q12's shipmode classes become l_linestatus; Q13's comment filter
  becomes a totalprice filter; Q21's receipt-late test becomes
  "supplier had returned lines".

Same cross-engine determinism discipline as relational5: every
aggregate feeding output or a comparison is an exact DECIMAL sum cast
to double at the end, counts are BIGINT on both sides, and thresholds
apply the identical IEEE expression tree in both engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.spread import counted_checkpoint
from ._util import _SQL_REV, _dec, _revenue, t, registry
from .graph_queries import _undirected_edges

QUERIES, ORACLES, _q = registry()


# ---------------------------------------------------------------------------
# TPC-H Q4 shape: order-priority checking — orders in a quarter with at
# least one "late" line (EXISTS). Deviation: no l_commitdate, so late =
# shipped after the order date. Plan shape preserved: the EXISTS is a
# LEFT SEMI join with a non-equi conjunct; the quarter filter pushes to
# the orders scan, and the semi join materializes no lineitem payload —
# at 100 TB the fact side contributes only its join keys.
@_q(
    "q4_priority_check",
    """
    SELECT o_orderpriority, COUNT(*) AS n_orders
    FROM orders o
    WHERE o.o_orderdate >= TIMESTAMP '1996-01-01'
      AND o.o_orderdate < TIMESTAMP '1996-07-01'
      AND EXISTS (SELECT 1 FROM lineitem l
                  WHERE l.l_orderkey = o.o_orderkey
                    AND l.l_shipdate > o.o_orderdate)
    GROUP BY o_orderpriority
    """,
)
def q_q4_priority_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = t(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-07-01").cast("timestamp"))
    )
    li = t(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    late = orders.join(
        li,
        (orders["o_orderkey"] == li["l_orderkey"])
        & (li["l_shipdate"] > orders["o_orderdate"]),
        "left_semi",
    )
    return late.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_orders")
    )


# ---------------------------------------------------------------------------
# TPC-H Q6 shape: forecasting-revenue change — the canonical pure
# scan-filter-aggregate. Zero joins, zero groups: every predicate
# pushes to the parquet scan (shipdate range, discount band, quantity
# cap) and the aggregate collapses map-side to one row per partition.
# The cheapest possible 100 TB query — wall time == scan time.
@_q(
    "q6_forecast_revenue",
    """
    SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                    * CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE)
             AS revenue,
           COUNT(*) AS n_lines
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      AND l_shipdate < TIMESTAMP '1997-01-01'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24
    """,
)
def q_q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem")
    f = li.where(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
        & F.col("l_discount").between(0.05, 0.07)
        & (F.col("l_quantity") < 24)
    )
    return f.agg(
        F.sum(_dec("l_extendedprice") * _dec("l_discount"))
        .cast("double")
        .alias("revenue"),
        F.count(F.lit(1)).alias("n_lines"),
    )


# ---------------------------------------------------------------------------
# TPC-H Q11 shape: important stock — per-part value with a global-share
# HAVING threshold. Deviation: no partsupp, so the part↔supplier
# relation is the DISTINCT lineitem pair set and value = p_retailprice
# per observed supplier. Shape preserved: grouped decimal aggregation
# reused twice (per-group and global scalar), the scalar broadcast back
# as a filter — the 1-row side never forces a fact reshuffle. The
# threshold (1.25 × mean part value) applies the identical double
# expression in both engines.
@_q(
    "q11_important_stock",
    """
    WITH ps AS (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem),
    v AS (
      SELECT ps.l_partkey AS p_partkey,
             SUM(CAST(p.p_retailprice AS DECIMAL(18,2))) AS val,
             COUNT(*) AS n_supp
      FROM ps JOIN part p ON p.p_partkey = ps.l_partkey
      GROUP BY ps.l_partkey
    )
    SELECT p_partkey, CAST(val AS DOUBLE) AS stock_value,
           n_supp
    FROM v
    WHERE CAST(val AS DOUBLE) >
          (SELECT 1.25 * CAST(SUM(val) AS DOUBLE) / COUNT(*) FROM v)
    """,
)
def q_q11_important_stock(spark: SparkSession, sf_dir: str) -> DataFrame:
    ps = (
        t(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey").distinct()
    )
    part = t(spark, sf_dir, "part").select("p_partkey", "p_retailprice")
    v = (
        ps.join(F.broadcast(part), ps["l_partkey"] == part["p_partkey"])
        .groupBy(F.col("l_partkey").alias("p_partkey"))
        .agg(
            F.sum(_dec("p_retailprice")).alias("val"),
            F.count(F.lit(1)).alias("n_supp"),
        )
    )
    thr = v.agg(
        (
            F.lit(1.25) * F.sum("val").cast("double") / F.count(F.lit(1))
        ).alias("_thr")
    )
    return (
        v.join(F.broadcast(thr))
        .where(F.col("val").cast("double") > F.col("_thr"))
        .select("p_partkey", F.col("val").cast("double").alias("stock_value"), "n_supp")
    )


# ---------------------------------------------------------------------------
# TPC-H Q12 shape: shipping-mode priority split — per class, how many
# lines belong to urgent vs non-urgent orders. Deviation: no
# l_shipmode, classes = l_linestatus; no l_receiptdate, the date band
# applies to l_shipdate with the late conjunct from Q4. Shape
# preserved: one fact↔orders equi join and conditional counts
# (count_if) that combine map-side.
@_q(
    "q12_linestatus_priority",
    """
    SELECT l_linestatus,
           CAST(count_if(o_orderpriority IN ('1-URGENT', '2-HIGH'))
                AS BIGINT) AS high_line_count,
           CAST(count_if(o_orderpriority NOT IN ('1-URGENT', '2-HIGH'))
                AS BIGINT) AS low_line_count
    FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
    WHERE l.l_shipdate >= TIMESTAMP '1996-01-01'
      AND l.l_shipdate < TIMESTAMP '1997-01-01'
      AND l.l_shipdate > o.o_orderdate
    GROUP BY l_linestatus
    """,
)
def q_q12_linestatus_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    orders = t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate", "o_orderpriority"
    )
    j = li.join(orders, li["l_orderkey"] == orders["o_orderkey"]).where(
        F.col("l_shipdate") > F.col("o_orderdate")
    )
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return j.groupBy("l_linestatus").agg(
        F.count_if(high).alias("high_line_count"),
        F.count_if(~high).alias("low_line_count"),
    )


# ---------------------------------------------------------------------------
# TPC-H Q13 shape: customer order-count distribution — LEFT join
# preserving zero-order customers, then a histogram of the counts.
# Deviation: the o_comment NOT LIKE filter becomes a totalprice filter
# (same role: thin the right side inside the JOIN condition, NOT in a
# WHERE — the distinction that keeps zero-order customers visible).
# COUNT(column) counts only matched rows on both engines.
@_q(
    "q13_order_distribution",
    """
    WITH c_orders AS (
      SELECT c.c_custkey, COUNT(o.o_orderkey) AS c_count
      FROM customer c
      LEFT JOIN orders o
        ON o.o_custkey = c.c_custkey AND o.o_totalprice > 100000
      GROUP BY c.c_custkey
    )
    SELECT c_count, COUNT(*) AS custdist
    FROM c_orders
    GROUP BY c_count
    """,
)
def q_q13_order_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = t(spark, sf_dir, "customer").select("c_custkey")
    orders = t(spark, sf_dir, "orders").select("o_custkey", "o_orderkey", "o_totalprice")
    j = cust.join(
        orders,
        (cust["c_custkey"] == orders["o_custkey"])
        & (orders["o_totalprice"] > 100000),
        "left",
    )
    per_cust = j.groupBy("c_custkey").agg(
        F.count("o_orderkey").alias("c_count")
    )
    return per_cust.groupBy("c_count").agg(F.count(F.lit(1)).alias("custdist"))


# ---------------------------------------------------------------------------
# TPC-H Q15 shape: top supplier — revenue per supplier over a quarter,
# keep the supplier(s) achieving the maximum (ties preserved, exact
# decimal equality). The max is a 1-row broadcast back over the
# aggregate — no second scan of the fact table; the supplier dim
# broadcasts for the name lookup.
@_q(
    "q15_top_supplier",
    f"""
    WITH r AS (
      SELECT l_suppkey, SUM({_SQL_REV}) AS total_rev
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        AND l_shipdate < TIMESTAMP '1996-04-01'
      GROUP BY l_suppkey
    )
    SELECT s.s_suppkey, s.s_name,
           CAST(r.total_rev AS DOUBLE) AS total_rev
    FROM r JOIN supplier s ON s.s_suppkey = r.l_suppkey
    WHERE r.total_rev = (SELECT MAX(total_rev) FROM r)
    """,
)
def q_q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp"))
    )
    r = li.groupBy("l_suppkey").agg(F.sum(_revenue()).alias("total_rev"))
    mx = r.agg(F.max("total_rev").alias("_mx"))
    supp = t(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        r.join(F.broadcast(mx))
        .where(F.col("total_rev") == F.col("_mx"))
        .join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .select(
            "s_suppkey", "s_name", F.col("total_rev").cast("double").alias("total_rev")
        )
    )


# ---------------------------------------------------------------------------
# TPC-H Q16 shape: supplier count by part attribute — COUNT(DISTINCT)
# over the part↔supplier relation with NOT-predicates on the part dim.
# Deviation: partsupp → DISTINCT lineitem pairs (the observed
# relation); the supplier-comment exclusion is dropped (no comments in
# the fixture). The two-level distinct (pair dedup, then
# count-distinct per group) is exactly the partial-aggregatable shape
# Spark plans as two hash aggregations.
@_q(
    "q16_supplier_cnt",
    """
    WITH ps AS (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem)
    SELECT p_brand, p_type, p_size,
           CAST(COUNT(DISTINCT ps.l_suppkey) AS BIGINT) AS supplier_cnt
    FROM ps JOIN part p ON p.p_partkey = ps.l_partkey
    WHERE p_brand <> 'Brand#1'
      AND p_type NOT LIKE 'ECONOMY%'
      AND p_size IN (1, 4, 7, 10, 13, 16, 19, 22)
    GROUP BY p_brand, p_type, p_size
    """,
)
def q_q16_supplier_cnt(spark: SparkSession, sf_dir: str) -> DataFrame:
    ps = (
        t(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey").distinct()
    )
    part = t(spark, sf_dir, "part").where(
        (F.col("p_brand") != "Brand#1")
        & ~F.col("p_type").like("ECONOMY%")
        & F.col("p_size").isin(1, 4, 7, 10, 13, 16, 19, 22)
    )
    j = ps.join(F.broadcast(part), ps["l_partkey"] == part["p_partkey"])
    return j.groupBy("p_brand", "p_type", "p_size").agg(
        F.countDistinct("l_suppkey").alias("supplier_cnt")
    )


# ---------------------------------------------------------------------------
# TPC-H Q17 shape: small-quantity-order revenue — a correlated
# per-part average re-joined against the fact table. The per-part avg
# (decimal-sum / count, order-free) and the probe both shuffle on
# l_partkey, so AQE can reuse the exchange; the brand filter broadcasts
# off the part dim. Output is the single-row avg_yearly scalar.
@_q(
    "q17_small_qty_revenue",
    """
    WITH pa AS (
      SELECT l_partkey,
             CAST(SUM(CAST(l_quantity AS DECIMAL(9,2))) AS DOUBLE)
               / COUNT(*) AS avg_qty
      FROM lineitem GROUP BY l_partkey
    )
    SELECT round(CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2)))
                      AS DOUBLE) / 7.0, 6) AS avg_yearly,
           COUNT(*) AS n_lines
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey
    JOIN pa ON pa.l_partkey = l.l_partkey
    WHERE p.p_brand = 'Brand#3'
      AND l.l_quantity < 0.2 * pa.avg_qty
    """,
)
def q_q17_small_qty_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem")
    pa = li.groupBy(F.col("l_partkey").alias("pa_partkey")).agg(
        (
            F.sum(F.col("l_quantity").cast("decimal(9,2)")).cast("double")
            / F.count(F.lit(1))
        ).alias("avg_qty")
    )
    part = t(spark, sf_dir, "part").where(F.col("p_brand") == "Brand#3").select(
        "p_partkey"
    )
    j = (
        li.join(F.broadcast(part), li["l_partkey"] == part["p_partkey"])
        .join(pa, li["l_partkey"] == pa["pa_partkey"])
        .where(F.col("l_quantity") < F.lit(0.2) * F.col("avg_qty"))
    )
    return j.agg(
        F.round(F.sum(_dec("l_extendedprice")).cast("double") / F.lit(7.0), 6).alias(
            "avg_yearly"
        ),
        F.count(F.lit(1)).alias("n_lines"),
    )


# ---------------------------------------------------------------------------
# TPC-H Q18 shape: large-volume orders — group the fact by order,
# HAVING on the exact decimal quantity sum, then join order/customer
# payload and take a deterministic top-k (TakeOrderedAndProject, no
# global sort). The HAVING prunes before any dimension join touches
# the rows.
@_q(
    "q18_large_orders",
    """
    WITH big AS (
      SELECT l_orderkey,
             SUM(CAST(l_quantity AS DECIMAL(9,2))) AS total_qty
      FROM lineitem
      GROUP BY l_orderkey
      HAVING SUM(CAST(l_quantity AS DECIMAL(9,2))) > 220
    )
    SELECT c.c_custkey, c.c_name, o.o_orderkey,
           CAST(o.o_totalprice AS DOUBLE) AS o_totalprice,
           CAST(big.total_qty AS DOUBLE) AS total_qty
    FROM big
    JOIN orders o ON o.o_orderkey = big.l_orderkey
    JOIN customer c ON c.c_custkey = o.o_custkey
    ORDER BY o_totalprice DESC, o_orderkey
    LIMIT 50
    """,
)
def q_q18_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum(F.col("l_quantity").cast("decimal(9,2)")).alias("total_qty"))
        .where(F.col("total_qty") > 220)
    )
    orders = t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    cust = t(spark, sf_dir, "customer").select("c_custkey", "c_name")
    j = big.join(orders, big["l_orderkey"] == orders["o_orderkey"]).join(
        F.broadcast(cust), orders["o_custkey"] == cust["c_custkey"]
    )
    return (
        j.select(
            "c_custkey",
            "c_name",
            "o_orderkey",
            F.col("o_totalprice").cast("double").alias("o_totalprice"),
            F.col("total_qty").cast("double").alias("total_qty"),
        )
        .orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .limit(50)
    )


# ---------------------------------------------------------------------------
# TPC-H Q20 shape: suppliers with excess stock of selected parts.
# Deviation: no partsupp availqty — "excess" = the supplier shipped
# more than 2× the average per-supplier quantity of that part (the
# same correlated share-threshold structure; the original's 0.5 ×
# total is unreachable in a fixture where every part has ~26
# suppliers). pq and pt group on the same key, so the second
# aggregation rides the first's exchange; part filter broadcasts.
@_q(
    "q20_excess_suppliers",
    """
    WITH pq AS (
      SELECT l_partkey, l_suppkey,
             SUM(CAST(l_quantity AS DECIMAL(9,2))) AS sq
      FROM lineitem GROUP BY l_partkey, l_suppkey
    ), pt AS (
      SELECT l_partkey, SUM(sq) AS tq, COUNT(*) AS ns
      FROM pq GROUP BY l_partkey
    )
    SELECT DISTINCT s.s_suppkey, s.s_name
    FROM pq
    JOIN pt ON pt.l_partkey = pq.l_partkey
    JOIN part p ON p.p_partkey = pq.l_partkey
    JOIN supplier s ON s.s_suppkey = pq.l_suppkey
    WHERE p.p_name LIKE 'red%'
      AND CAST(sq AS DOUBLE) > 2.0 * CAST(tq AS DOUBLE) / ns
    """,
)
def q_q20_excess_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem")
    pq = li.groupBy("l_partkey", "l_suppkey").agg(
        F.sum(F.col("l_quantity").cast("decimal(9,2)")).alias("sq")
    )
    pt = pq.groupBy(F.col("l_partkey").alias("pt_partkey")).agg(
        F.sum("sq").alias("tq"), F.count(F.lit(1)).alias("ns")
    )
    part = t(spark, sf_dir, "part").where(F.col("p_name").like("red%")).select(
        "p_partkey"
    )
    supp = t(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    j = (
        pq.join(pt, pq["l_partkey"] == pt["pt_partkey"])
        .join(F.broadcast(part), pq["l_partkey"] == part["p_partkey"])
        .where(
            F.col("sq").cast("double")
            > F.lit(2.0) * F.col("tq").cast("double") / F.col("ns")
        )
        .join(F.broadcast(supp), pq["l_suppkey"] == supp["s_suppkey"])
    )
    return j.select("s_suppkey", "s_name").distinct()


# ---------------------------------------------------------------------------
# TPC-H Q21 shape: suppliers who kept orders waiting — the classic
# EXISTS (another supplier on the order) + NOT EXISTS (no OTHER
# supplier also failed) double correlation. Deviation: no
# l_receiptdate/l_commitdate, so "failed to deliver" = had returned
# lines (l_returnflag = 'R'). De-correlated form: the EXISTS becomes a
# multi-supplier order set, the NOT EXISTS becomes a sole-returner
# order set, both tiny aggregates joined semi-style — no correlated
# re-scan of the fact table.
@_q(
    "q21_waiting_suppliers",
    """
    WITH r AS (
      SELECT DISTINCT l_orderkey, l_suppkey
      FROM lineitem WHERE l_returnflag = 'R'
    ), a AS (
      SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem
    ), multi AS (
      SELECT l_orderkey FROM a GROUP BY l_orderkey HAVING COUNT(*) > 1
    ), sole AS (
      SELECT l_orderkey FROM r GROUP BY l_orderkey HAVING COUNT(*) = 1
    )
    SELECT s.s_name, COUNT(*) AS numwait
    FROM r
    JOIN multi ON multi.l_orderkey = r.l_orderkey
    JOIN sole ON sole.l_orderkey = r.l_orderkey
    JOIN orders o ON o.o_orderkey = r.l_orderkey
                 AND o.o_orderstatus = 'F'
    JOIN supplier s ON s.s_suppkey = r.l_suppkey
    GROUP BY s.s_name
    """,
)
def q_q21_waiting_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_returnflag"
    )
    a = li.select("l_orderkey", "l_suppkey").distinct()
    r = (
        li.where(F.col("l_returnflag") == "R")
        .select("l_orderkey", "l_suppkey")
        .distinct()
    )
    multi = (
        a.groupBy("l_orderkey")
        .agg(F.count(F.lit(1)).alias("_n"))
        .where(F.col("_n") > 1)
        .select("l_orderkey")
    )
    sole = (
        r.groupBy("l_orderkey")
        .agg(F.count(F.lit(1)).alias("_m"))
        .where(F.col("_m") == 1)
        .select("l_orderkey")
    )
    orders = (
        t(spark, sf_dir, "orders")
        .where(F.col("o_orderstatus") == "F")
        .select("o_orderkey")
    )
    supp = t(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    j = (
        r.join(multi.withColumnRenamed("l_orderkey", "mk"), F.col("l_orderkey") == F.col("mk"))
        .join(sole.withColumnRenamed("l_orderkey", "sk_"), F.col("l_orderkey") == F.col("sk_"))
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
    )
    return j.groupBy("s_name").agg(F.count(F.lit(1)).alias("numwait"))


# ---------------------------------------------------------------------------
# Triangle counting — the classic distributed multiway self-join, a
# different shape from connected components (which is iterative; this
# is one three-way join with an ordering trick). Edges are oriented by
# (degree, id) — the Suri-Vassilvitskii scale form: hubs become sinks,
# bounding wedge candidates at O(m^1.5) instead of Σd²
# (operators/graphs.py). The triangle COUNT is orientation-invariant,
# so the oracle keeps the simpler id-orientation — the hash match IS
# the orientation-invariance proof. Graph: suppliers sharing a part,
# md5-sampled to realistic sparsity (the unsampled co-supplier graph
# is complete — every pair shares some part in this fixture).
@_q(
    "triangle_count",
    """
    WITH ps AS (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem),
    e0 AS (
      SELECT DISTINCT a.l_suppkey AS u, b.l_suppkey AS v
      FROM ps a JOIN ps b ON a.l_partkey = b.l_partkey
                         AND a.l_suppkey < b.l_suppkey
    ),
    e AS (
      SELECT u, v FROM e0
      WHERE CAST(('0x' || substring(md5(CAST(u * 1000 + v AS VARCHAR)), 1, 4))
                 AS INTEGER) < 9830
    )
    SELECT (SELECT COUNT(*) FROM e) AS n_edges,
           (SELECT COUNT(*) FROM e e1
            JOIN e e2 ON e2.u = e1.v
            JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v) AS n_triangles
    """,
)
def q_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.graphs import oriented_triangle_count

    # materialize the sampled edge set once: the oriented triangle
    # join consumes it via THREE branches plus two degree joins, which
    # otherwise re-derive the pair expansion per branch (plan census:
    # 166 -> ~30 Exchanges)
    e = _undirected_edges(spark, sf_dir).localCheckpoint(eager=True)
    return oriented_triangle_count(e, by_degree=True)


# ---------------------------------------------------------------------------
# Order-independent table checksum — the data-engineering integrity
# primitive (compare a table across engines/copies/migrations without
# sorting it). Per row: md5 of the canonical string form of the key
# columns, folded to a 60-bit int; aggregate = exact decimal SUM —
# commutative, so any partitioning/ordering yields the identical
# fingerprint. Pure map-side-combinable aggregation: the cheapest
# possible full-table pass.
@_q(
    "table_checksum",
    """
    SELECT COUNT(*) AS n_rows,
           CAST(SUM(CAST(CAST(('0x' || substring(
                    md5(CAST(l_orderkey AS VARCHAR) || '|'
                        || CAST(l_linenumber AS VARCHAR) || '|'
                        || CAST(l_quantity AS VARCHAR)),
                    1, 15)) AS BIGINT) AS DECIMAL(38,0))) AS VARCHAR)
             AS checksum
    FROM lineitem
    """,
)
def q_table_checksum(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem")
    row_str = F.concat_ws(
        "|",
        F.col("l_orderkey").cast("string"),
        F.col("l_linenumber").cast("string"),
        F.col("l_quantity").cast("string"),
    )
    h60 = F.conv(F.substring(F.md5(row_str), 1, 15), 16, 10).cast("decimal(38,0)")
    return li.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(h60).cast("decimal(38,0)").cast("string").alias("checksum"),
    )


# ---------------------------------------------------------------------------
# Chi-square independence test over a contingency table — is order
# priority independent of order status? One exact-count aggregation
# builds the observed table; margins broadcast back; the statistic is
# Σ (O−E)²/E in double with the identical expression tree in both
# engines. The scale shape: the fact table is touched once, everything
# after the first groupBy is margin-sized.
@_q(
    "chi_square_independence",
    """
    WITH obs AS (
      SELECT o_orderpriority AS r, o_orderstatus AS c,
             CAST(COUNT(*) AS DOUBLE) AS o
      FROM orders GROUP BY 1, 2
    ),
    rm AS (SELECT r, SUM(o) AS rn FROM obs GROUP BY r),
    cm AS (SELECT c, SUM(o) AS cn FROM obs GROUP BY c),
    tot AS (SELECT SUM(o) AS n FROM obs)
    SELECT CAST(COUNT(*) AS BIGINT) AS n_cells,
           round(SUM((obs.o - rm.rn * cm.cn / tot.n)
                     * (obs.o - rm.rn * cm.cn / tot.n)
                     / (rm.rn * cm.cn / tot.n)), 6) AS chi2
    FROM obs
    JOIN rm ON rm.r = obs.r
    JOIN cm ON cm.c = obs.c
    CROSS JOIN tot
    """,
)
def q_chi_square_independence(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = t(spark, sf_dir, "orders")
    obs = orders.groupBy(
        F.col("o_orderpriority").alias("r"), F.col("o_orderstatus").alias("c")
    ).agg(F.count(F.lit(1)).cast("double").alias("o"))
    rm = obs.groupBy(F.col("r").alias("rr")).agg(F.sum("o").alias("rn"))
    cm = obs.groupBy(F.col("c").alias("cc")).agg(F.sum("o").alias("cn"))
    tot = obs.agg(F.sum("o").alias("n"))
    j = (
        obs.join(F.broadcast(rm), F.col("r") == F.col("rr"))
        .join(F.broadcast(cm), F.col("c") == F.col("cc"))
        .crossJoin(F.broadcast(tot))
    )
    e = F.col("rn") * F.col("cn") / F.col("n")
    return j.agg(
        F.count(F.lit(1)).alias("n_cells"),
        F.round(F.sum((F.col("o") - e) * (F.col("o") - e) / e), 6).alias("chi2"),
    )


# ---------------------------------------------------------------------------
# Weighted median — the 50% point of a weight-CDF, not of row counts:
# per returnflag, the price below which half the shipped QUANTITY
# lies. Sort by value within the group, running weight cumsum, first
# row crossing half the total — one window pass over decimal-exact
# cumulative weights, with the boundary chosen by deterministic
# (price, orderkey, linenumber) order. The row-median of prices
# answers a different question; weighting by quantity is the form
# inventory/pricing analysis actually needs.
@_q(
    "weighted_median_price",
    """
    WITH w AS (
      SELECT l_returnflag,
             l_extendedprice,
             CAST(l_quantity AS DECIMAL(18,2)) AS wt,
             SUM(CAST(l_quantity AS DECIMAL(18,2)))
               OVER (PARTITION BY l_returnflag
                     ORDER BY l_extendedprice, l_orderkey, l_linenumber
                     ROWS UNBOUNDED PRECEDING) AS cum,
             SUM(CAST(l_quantity AS DECIMAL(18,2)))
               OVER (PARTITION BY l_returnflag) AS tot
      FROM lineitem
    )
    SELECT l_returnflag,
           CAST(MIN(l_extendedprice) AS DOUBLE) AS weighted_median_price
    FROM w
    WHERE CAST(cum AS DOUBLE) * 2 >= CAST(tot AS DOUBLE)
    GROUP BY l_returnflag
    """,
)
def q_weighted_median_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    li = t(spark, sf_dir, "lineitem")
    wt = F.col("l_quantity").cast("decimal(18,2)")
    w_cum = (
        Window.partitionBy("l_returnflag")
        .orderBy(F.asc("l_extendedprice"), F.asc("l_orderkey"), F.asc("l_linenumber"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_tot = Window.partitionBy("l_returnflag")
    cum = li.select(
        "l_returnflag",
        "l_extendedprice",
        F.sum(wt).over(w_cum).alias("cum"),
        F.sum(wt).over(w_tot).alias("tot"),
    )
    crossing = cum.where(F.col("cum").cast("double") * 2 >= F.col("tot").cast("double"))
    return crossing.groupBy("l_returnflag").agg(
        F.min("l_extendedprice").cast("double").alias("weighted_median_price")
    )


# ---------------------------------------------------------------------------
# Top-k per group AS AN INLINE LIST — the API-response shape ("3
# priciest parts per brand, inline"). Grouped collect of (price, key)
# structs, sort descending, slice k — collect state is bounded by the
# group size; for unbounded groups the window row_number form
# (window_rank) pre-filters. Struct sort gives the deterministic
# (price desc, key asc) tie order in both engines. The top-name list
# is emitted as a '|'-joined STRING (not a raw array) so downstream
# hash/compare tooling that canonicalizes rows never has to hash an
# array cell; the raw-array variant below keeps the typed shape.
@_q(
    "topk_per_group_array",
    """
    WITH s AS (
      SELECT p_brand,
             list_sort(list({'p_retailprice': p_retailprice,
                             'p_partkey': p_partkey,
                             'p_name': p_name}), 'DESC') AS sorted
      FROM part GROUP BY p_brand
    )
    SELECT p_brand,
           array_to_string([x.p_name FOR x IN sorted[1:3]], '|') AS top_names,
           CAST(sorted[1].p_retailprice AS DOUBLE) AS top_price
    FROM s
    """,
)
def q_topk_per_group_array(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = t(spark, sf_dir, "part")
    s = F.struct(
        F.col("p_retailprice").alias("p_retailprice"),
        F.col("p_partkey").alias("p_partkey"),
        F.col("p_name").alias("p_name"),
    )
    top = F.slice(F.reverse(F.array_sort(F.collect_list(s))), 1, 3)
    return part.groupBy("p_brand").agg(
        F.concat_ws(
            "|", F.transform(top, lambda x: x.getField("p_name"))
        ).alias("top_names"),
        F.element_at(top, 1).getField("p_retailprice").cast("double").alias("top_price"),
    )


# (A raw-array twin of topk_per_group_array was retired in round 9:
# array<string> cells crash external row canonicalizers — pandas
# sort_values cannot factorize list cells — so the typed-array shape
# is untestable end-to-end. The '|'-joined string form above carries
# the capability and is hash-checked.)


# ---------------------------------------------------------------------------
# Quartile statistics via ntile(4): orders bucketed into price
# quartiles per priority, then per-quartile exact decimal aggregates —
# the A/B-analysis shape (compare segments by quantile band). ntile's
# bucket boundaries depend only on the deterministic (price, orderkey)
# order, so both engines produce identical buckets.
@_q(
    "quartile_stats",
    """
    WITH q AS (
      SELECT o_orderpriority, o_totalprice,
             CAST(ntile(4) OVER (PARTITION BY o_orderpriority
                            ORDER BY o_totalprice, o_orderkey) AS BIGINT)
               AS quartile
      FROM orders
    )
    SELECT o_orderpriority, quartile,
           COUNT(*) AS n,
           CAST(MIN(o_totalprice) AS DOUBLE) AS lo,
           CAST(MAX(o_totalprice) AS DOUBLE) AS hi,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
    FROM q GROUP BY o_orderpriority, quartile
    """,
)
def q_quartile_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    orders = t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderpriority").orderBy(
        F.asc("o_totalprice"), F.asc("o_orderkey")
    )
    q = orders.select(
        "o_orderpriority",
        "o_totalprice",
        F.ntile(4).over(w).cast("bigint").alias("quartile"),
    )
    return q.groupBy("o_orderpriority", "quartile").agg(
        F.count(F.lit(1)).alias("n"),
        F.min("o_totalprice").cast("double").alias("lo"),
        F.max("o_totalprice").cast("double").alias("hi"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)")).cast("double").alias("total"),
    )


# ---------------------------------------------------------------------------
# Hierarchical subtree rollup — the recursive-aggregation class (BOM
# explosion, org charts, category trees). Spark has no recursive CTE;
# the distributed form is level-synchronous transitive closure: seed
# (node, node), then each round extends every known ancestor pair by
# one child edge — O(depth) rounds, one shuffle each, convergence =
# zero new pairs (the same iterative discipline as connected
# components, which the driver hash-checks against a recursive oracle
# the same way). Hierarchy: binary-heap parent floor(k/2) over
# custkeys (k >= 2; 0 and 1 are roots); rollup = descendant count +
# exact subtree balance per ancestor.
@_q(
    "hierarchy_subtree_rollup",
    """
    WITH RECURSIVE desc_pairs AS (
      SELECT c_custkey AS anc, c_custkey AS node FROM customer
      UNION ALL
      SELECT dp.anc, c.c_custkey AS node
      FROM desc_pairs dp
      JOIN customer c ON c.c_custkey // 2 = dp.node AND c.c_custkey > 1
    )
    SELECT dp.anc AS c_custkey,
           COUNT(*) AS n_subtree,
           CAST(SUM(CAST(c.c_acctbal AS DECIMAL(18,2))) AS DOUBLE)
             AS subtree_bal
    FROM desc_pairs dp JOIN customer c ON c.c_custkey = dp.node
    GROUP BY dp.anc
    """,
)
def q_hierarchy_subtree_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = t(spark, sf_dir, "customer").select("c_custkey", "c_acctbal")
    edges = (
        cust.where(F.col("c_custkey") > 1)
        .select(
            F.floor(F.col("c_custkey") / 2).cast("bigint").alias("parent"),
            F.col("c_custkey").alias("child"),
        )
        .localCheckpoint(eager=True)
    )
    pairs = cust.select(
        F.col("c_custkey").alias("anc"), F.col("c_custkey").alias("node")
    ).localCheckpoint(eager=True)
    frontier = pairs
    for _ in range(40):  # depth of a binary heap over ~10^12 keys
        step, rows = counted_checkpoint(
            frontier.join(edges, frontier["node"] == edges["parent"])
            .select("anc", F.col("child").alias("node"))
        )
        if rows == 0:
            break
        pairs = pairs.unionByName(step).localCheckpoint(eager=True)
        frontier = step
    else:
        raise RuntimeError("hierarchy deeper than iteration bound")
    j = pairs.join(
        cust.select(F.col("c_custkey").alias("node"), "c_acctbal"), "node"
    )
    return j.groupBy(F.col("anc").alias("c_custkey")).agg(
        F.count(F.lit(1)).alias("n_subtree"),
        F.sum(F.col("c_acctbal").cast("decimal(18,2)")).cast("double").alias("subtree_bal"),
    )


# ---------------------------------------------------------------------------
# Upward-aggregation twin of hierarchy_subtree_rollup: when only the
# per-ancestor AGGREGATES are wanted (not the ancestor-descendant pair
# table), folding levels bottom-up computes them without ever
# materializing the O(n·depth) closure. Each node's subtree total =
# own value + sum of its children's subtree totals, so processing
# levels deepest-first touches every node exactly once — O(n) total
# rows shuffled across O(depth) rounds vs O(n·depth) for the closure.
# The closure form stays the right tool when the PAIRS themselves are
# the product (ancestor filters, path queries); see PLANS.md. Level of
# a heap key = bit-length − 1 (integer arithmetic via base-2 conv —
# no float log2 edge cases). Oracle: the identical recursive-CTE
# rollup, so the hash match proves the two strategies agree.
@_q(
    "hierarchy_rollup_upward",
    """
    WITH RECURSIVE desc_pairs AS (
      SELECT c_custkey AS anc, c_custkey AS node FROM customer
      UNION ALL
      SELECT dp.anc, c.c_custkey AS node
      FROM desc_pairs dp
      JOIN customer c ON c.c_custkey // 2 = dp.node AND c.c_custkey > 1
    )
    SELECT dp.anc AS c_custkey,
           COUNT(*) AS n_subtree,
           CAST(SUM(CAST(c.c_acctbal AS DECIMAL(18,2))) AS DOUBLE)
             AS subtree_bal
    FROM desc_pairs dp JOIN customer c ON c.c_custkey = dp.node
    GROUP BY dp.anc
    """,
)
def q_hierarchy_rollup_upward(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = t(spark, sf_dir, "customer").select("c_custkey", "c_acctbal")
    base = cust.select(
        F.col("c_custkey").alias("node"),
        (
            F.length(F.conv(F.col("c_custkey").cast("string"), 10, 2)).cast("int")
            - F.lit(1)
        ).alias("lvl"),
        F.col("c_acctbal").cast("decimal(18,2)").alias("subtree_bal"),
        F.lit(1).cast("bigint").alias("n_subtree"),
    ).localCheckpoint(eager=True)
    max_lvl = base.agg(F.max("lvl")).collect()[0][0]  # one scalar to driver
    done = []
    cur = base.where(F.col("lvl") == max_lvl)
    for lvl in range(int(max_lvl), 0, -1):
        done.append(cur)
        parent_add = (
            cur.where(F.col("node") > 1)
            .groupBy(F.floor(F.col("node") / 2).cast("bigint").alias("node"))
            .agg(
                F.sum("subtree_bal").cast("decimal(18,2)").alias("add_bal"),
                F.sum("n_subtree").alias("add_n"),
            )
        )
        cur = (
            base.where(F.col("lvl") == lvl - 1)
            .join(parent_add, "node", "left")
            .select(
                "node",
                "lvl",
                (F.col("subtree_bal") + F.coalesce(F.col("add_bal"), F.lit(0)))
                .cast("decimal(18,2)")
                .alias("subtree_bal"),
                (F.col("n_subtree") + F.coalesce(F.col("add_n"), F.lit(0)))
                .cast("bigint")
                .alias("n_subtree"),
            )
            .localCheckpoint(eager=True)
        )
    done.append(cur)
    from functools import reduce

    out = reduce(lambda a, b: a.unionByName(b), done)
    return out.select(
        F.col("node").alias("c_custkey"),
        "n_subtree",
        F.col("subtree_bal").cast("double").alias("subtree_bal"),
    )


# ---------------------------------------------------------------------------
# Null-aware anti join — SQL's classic trap, made explicit: NOT IN
# over a subquery CONTAINING NULLS matches nothing (three-valued
# logic: x <> NULL is unknown for every x), while NOT EXISTS keeps its
# intuitive row-wise meaning. Spark plans the first as a null-aware
# anti join (BroadcastNestedLoopJoin w/ the null check), the second as
# a plain LeftAnti — both engines agree on both counts, which is the
# point: an engine that "fixed" NOT IN would be wrong.
@_q(
    "null_aware_anti_join",
    """
    WITH keys AS (
      SELECT CASE WHEN o_orderkey % 1000 = 0 THEN NULL
                  ELSE o_custkey END AS k
      FROM orders
    )
    SELECT
      (SELECT COUNT(*) FROM customer WHERE c_custkey NOT IN
         (SELECT k FROM keys)) AS not_in_with_nulls,
      (SELECT COUNT(*) FROM customer c WHERE NOT EXISTS
         (SELECT 1 FROM keys WHERE keys.k = c.c_custkey))
        AS not_exists_form
    """,
)
def q_null_aware_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.catalog import register_views

    register_views(spark, sf_dir)
    return spark.sql(
        """
        WITH keys AS (
          SELECT CASE WHEN o_orderkey % 1000 = 0 THEN NULL
                      ELSE o_custkey END AS k
          FROM orders
        )
        SELECT
          (SELECT COUNT(*) FROM customer WHERE c_custkey NOT IN
             (SELECT k FROM keys)) AS not_in_with_nulls,
          (SELECT COUNT(*) FROM customer c WHERE NOT EXISTS
             (SELECT 1 FROM keys WHERE keys.k = c.c_custkey))
            AS not_exists_form
        """
    )


# ---------------------------------------------------------------------------
# Sequence-gap detection — the data-quality check for "did ingestion
# drop rows": surfaces every hole in the key sequence as a
# (gap_after, next_key) range (no self-join against generate_series,
# which at 100 TB would materialize the full id range). The fixture's
# keys are dense, so deterministic gaps are planted (every 97th key
# dropped) to give the detector real holes to find.
#
# SCALE SHAPE (round-6 verdict item 4): gap detection does NOT need a
# total-order window. Keys are bucketed into fixed-width blocks
# (floor(k / B)); lead() runs PARTITIONED by block — parallel, no
# single-partition sort — which finds every within-block gap. Gaps
# that straddle block boundaries are recovered from the per-block
# (min, max) aggregate: that frame has n/B rows (an aggregated
# intermediate ~4096x smaller than the input), so its block-level
# lead() window is the acceptable tiny-frame kind, and a hole
# spanning entire empty blocks collapses into one (prev_max,
# next_min) pair because lead skips blocks with no rows. The oracle
# keeps the naive global-lead form; the two decompositions are
# provably identical on any key set.
_GAP_BLOCK = 4096
@_q(
    "sequence_gap_detection",
    """
    WITH gaps AS (
      SELECT o_orderkey AS gap_after,
             lead(o_orderkey) OVER (ORDER BY o_orderkey) AS next_key
      FROM orders WHERE o_orderkey % 97 <> 0
    )
    SELECT gap_after, next_key,
           CAST(next_key - gap_after - 1 AS BIGINT) AS n_missing
    FROM gaps
    WHERE next_key - gap_after > 1
    """,
)
def q_sequence_gap_detection(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    keys = (
        t(spark, sf_dir, "orders")
        .where(F.col("o_orderkey") % 97 != 0)
        .select(
            F.col("o_orderkey").alias("k"),
            F.floor(F.col("o_orderkey") / _GAP_BLOCK).alias("blk"),
        )
    )
    in_blk = Window.partitionBy("blk").orderBy("k")
    within = (
        keys.select(
            F.col("k").alias("gap_after"),
            F.lead("k").over(in_blk).alias("next_key"),
        )
        .where(F.col("next_key") - F.col("gap_after") > 1)
    )
    # block-boundary gaps: per-block extrema (n/B rows), lead over the
    # tiny block frame stitches consecutive NONEMPTY blocks
    blocks = keys.groupBy("blk").agg(
        F.min("k").alias("blk_min"), F.max("k").alias("blk_max")
    )
    over_blocks = Window.orderBy("blk")
    boundary = (
        blocks.select(
            F.col("blk_max").alias("gap_after"),
            F.lead("blk_min").over(over_blocks).alias("next_key"),
        )
        .where(F.col("next_key") - F.col("gap_after") > 1)
    )
    g = within.unionByName(boundary)
    return g.select(
        "gap_after",
        "next_key",
        (F.col("next_key") - F.col("gap_after") - 1).cast("bigint").alias("n_missing"),
    )


# ---------------------------------------------------------------------------
# Benford first-digit analysis — the fraud/data-quality screen:
# observed first-significant-digit frequencies of order totals vs the
# Benford expectation log10(1 + 1/d). One aggregation; the expectation
# is a closed-form literal per digit, identical in both engines.
@_q(
    "benford_first_digit",
    """
    WITH d AS (
      SELECT CAST(substring(CAST(CAST(floor(o_totalprice) AS BIGINT) AS VARCHAR), 1, 1)
                  AS BIGINT) AS digit
      FROM orders WHERE o_totalprice >= 1
    )
    SELECT digit,
           COUNT(*) AS n,
           round(CAST(COUNT(*) AS DOUBLE)
                 / (SELECT CAST(COUNT(*) AS DOUBLE) FROM d), 6) AS observed,
           round(log10(1.0 + 1.0 / digit), 6) AS benford_expected
    FROM d GROUP BY digit
    """,
)
def q_benford_first_digit(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = t(spark, sf_dir, "orders").where(F.col("o_totalprice") >= 1)
    d = orders.select(
        F.substring(F.floor(F.col("o_totalprice")).cast("bigint").cast("string"), 1, 1)
        .cast("bigint")
        .alias("digit")
    )
    tot = d.agg(F.count(F.lit(1)).cast("double").alias("_tot"))
    return (
        d.groupBy("digit")
        .agg(F.count(F.lit(1)).alias("n"))
        .crossJoin(F.broadcast(tot))
        .select(
            "digit",
            "n",
            F.round(F.col("n").cast("double") / F.col("_tot"), 6).alias("observed"),
            F.round(F.log10(1.0 + 1.0 / F.col("digit")), 6).alias("benford_expected"),
        )
    )


# ---------------------------------------------------------------------------
# Pareto (80/20) concentration — how many top customers cover 80% of
# revenue: revenue per customer, ordered cumsum over the exact decimal
# totals, count rows below the threshold plus the crossing row. The
# global window is the honest shape for a concentration question (the
# answer IS a global order statistic); the per-group variant partitions
# the same window.
@_q(
    "pareto_concentration",
    """
    WITH rev AS (
      SELECT o_custkey,
             SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS r
      FROM orders GROUP BY o_custkey
    ),
    c AS (
      SELECT o_custkey, r,
             SUM(r) OVER (ORDER BY r DESC, o_custkey
                          ROWS UNBOUNDED PRECEDING) AS cum,
             SUM(r) OVER () AS tot
      FROM rev
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_top_customers,
           (SELECT COUNT(*) FROM rev) AS n_customers,
           round(CAST(MAX(cum) AS DOUBLE) / CAST(MAX(tot) AS DOUBLE), 6)
             AS covered_share
    FROM c
    WHERE CAST(cum - r AS DOUBLE) < 0.8 * CAST(tot AS DOUBLE)
    """,
)
def q_pareto_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the concentration answer IS a global order statistic, but the
    # cumulative DECIMAL revenue is computed by a distributed prefix
    # scan over the customer-grain frame (decimal addition regroups
    # exactly), not a single-partition window (round-7)
    from ..operators.quantiles import with_global_cumsum

    orders = t(spark, sf_dir, "orders")
    rev = orders.groupBy("o_custkey").agg(
        F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("r")
    )
    tot = rev.agg(F.sum("r").alias("tot"))
    c = (
        with_global_cumsum(
            rev, ["r", "o_custkey"], ["r"], ascending=[False, True]
        )
        .crossJoin(F.broadcast(tot))
        .select("o_custkey", "r", F.col("cum_r").alias("cum"), "tot")
    )
    kept = c.where(
        (F.col("cum") - F.col("r")).cast("double") < 0.8 * F.col("tot").cast("double")
    )
    n_cust = rev.agg(F.count(F.lit(1)).alias("n_customers"))
    return (
        kept.agg(
            F.count(F.lit(1)).cast("bigint").alias("n_top_customers"),
            F.round(
                F.max("cum").cast("double") / F.max("tot").cast("double"), 6
            ).alias("covered_share"),
        )
        .crossJoin(F.broadcast(n_cust))
        .select("n_top_customers", "n_customers", "covered_share")
    )


# ---------------------------------------------------------------------------
# Local clustering coefficient: per-vertex triangle participation over
# the same md5-sampled co-supplier graph as triangle_count. Each
# triangle is materialized once by the degree-oriented wedge join
# (operators/graphs.oriented_triangles) and charged to its three
# vertices by an explode — so per-vertex counts cost one extra
# 3x|triangles| shuffle on top of the bounded triangle join, never a
# per-vertex neighborhood intersection. coeff = 2*tri / (d*(d-1)),
# one division per vertex, round(...,6). The oracle keeps the simple
# id-orientation; the hash match re-proves orientation invariance at
# per-vertex granularity.
@_q(
    "local_clustering_coefficient",
    """
    WITH ps AS (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem),
    e0 AS (
      SELECT DISTINCT a.l_suppkey AS u, b.l_suppkey AS v
      FROM ps a JOIN ps b ON a.l_partkey = b.l_partkey
                         AND a.l_suppkey < b.l_suppkey
    ),
    e AS MATERIALIZED (
      SELECT u, v FROM e0
      WHERE CAST(('0x' || substring(md5(CAST(u * 1000 + v AS VARCHAR)), 1, 4))
                 AS INTEGER) < 9830
    ),
    deg AS (
      SELECT x, COUNT(*) AS d FROM (
        SELECT u AS x FROM e UNION ALL SELECT v AS x FROM e
      ) GROUP BY x
    ),
    tri AS MATERIALIZED (
      SELECT e1.u AS a, e1.v AS b, e2.v AS c
      FROM e e1 JOIN e e2 ON e2.u = e1.v
                JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v
    ),
    tv AS (
      SELECT x, COUNT(*) AS t FROM (
        SELECT a AS x FROM tri UNION ALL SELECT b AS x FROM tri
        UNION ALL SELECT c AS x FROM tri
      ) GROUP BY x
    )
    SELECT deg.x AS s_suppkey, CAST(deg.d AS BIGINT) AS degree,
           CAST(COALESCE(tv.t, 0) AS BIGINT) AS n_triangles,
           round(2.0 * COALESCE(tv.t, 0) / (deg.d * (deg.d - 1)), 6)
             AS clustering_coeff
    FROM deg LEFT JOIN tv ON tv.x = deg.x
    WHERE deg.d >= 2
    """,
)
def q_local_clustering_coefficient(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.graphs import oriented_triangles, vertex_degrees

    e = _undirected_edges(spark, sf_dir).localCheckpoint(eager=True)
    deg = vertex_degrees(e)
    # tri feeds three union branches: materialize the triangle list
    tri = oriented_triangles(e, by_degree=True).localCheckpoint(eager=True)
    tv = (
        tri.select(F.col("a").alias("x"))
        .unionAll(tri.select(F.col("b").alias("x")))
        .unionAll(tri.select(F.col("c").alias("x")))
        .groupBy("x")
        .agg(F.count(F.lit(1)).alias("t"))
    )
    return (
        deg.join(tv, "x", "left")
        .where(F.col("deg") >= 2)
        .select(
            F.col("x").alias("s_suppkey"),
            F.col("deg").cast("bigint").alias("degree"),
            F.coalesce(F.col("t"), F.lit(0)).cast("bigint").alias("n_triangles"),
            F.round(
                2.0 * F.coalesce(F.col("t"), F.lit(0))
                / (F.col("deg") * (F.col("deg") - 1)),
                6,
            ).alias("clustering_coeff"),
        )
    )
