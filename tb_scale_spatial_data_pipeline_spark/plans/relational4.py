"""Fourth relational batch: the subquery surface (EXISTS semi join,
IN-subquery with HAVING, scalar subquery against a global aggregate,
correlated-average filter) and TF-IDF term ranking.

The reference never writes a subquery (its only "joins" are dict
lookups, SURVEY §2.4); this tier is the free-in-Spark extension
surface promised by SURVEY §7 step 1, expressed the way Catalyst
wants it: every correlated/scalar subquery is written as its
de-correlated join form (semi join, broadcast scalar, agg+join), which
is exactly the rewrite Catalyst's ``RewriteCorrelatedScalarSubquery`` /
``RewritePredicateSubquery`` rules would produce — so the plan is the
scalable one from the start (no nested-loop re-execution per row).

Scale notes (100 TB): the semi-join build sides here are aggregates
over the fact table — they shuffle once on the join key and are
orders of magnitude smaller than their inputs; global scalar
aggregates reduce to one row and broadcast for free. None of these
queries re-scan the fact table more than twice.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ._util import dsum, davg, sql_davg, sql_dsum, t, registry

QUERIES, ORACLES, _q = registry()


# ---------------------------------------------------------------------------
# EXISTS correlated subquery (TPC-H Q4 shape): count orders per
# priority that have at least one line shipped after the order date.
# Spark form: left-semi join — the EXISTS de-correlation. The semi
# join's build side is just (l_orderkey, l_shipdate>o_orderdate)
# pairs; at scale AQE picks shuffled-hash vs broadcast by size.
@_q(
    "exists_semi_priority",
    """
    SELECT o_orderpriority, COUNT(*) AS n_orders
    FROM orders o
    WHERE EXISTS (SELECT 1 FROM lineitem l
                  WHERE l.l_orderkey = o.o_orderkey
                    AND l.l_shipdate > o.o_orderdate)
    GROUP BY o_orderpriority
    """,
)
def q_exists_semi_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = t(spark, sf_dir, "orders")
    li = t(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    semi = orders.join(
        li,
        (orders["o_orderkey"] == li["l_orderkey"])
        & (li["l_shipdate"] > orders["o_orderdate"]),
        "left_semi",
    )
    return semi.groupBy("o_orderpriority").agg(F.count(F.lit(1)).alias("n_orders"))


# ---------------------------------------------------------------------------
# IN-subquery over a HAVING aggregate (TPC-H Q18 shape): orders whose
# total line quantity exceeds a threshold, joined back for customer
# detail. Spark form: aggregate once, inner-join the (small) passing
# key set back to orders — the IN-subquery de-correlation. The
# aggregate output (one row per order) is ~|orders| before HAVING and
# tiny after; the join back to orders is key-equi and AQE-sized.
@_q(
    "in_subquery_big_orders",
    f"""
    SELECT c.c_custkey, o.o_orderkey, o.o_totalprice, s.sum_qty
    FROM orders o
    JOIN customer c ON c.c_custkey = o.o_custkey
    JOIN (SELECT l_orderkey, {sql_dsum('l_quantity')} AS sum_qty
          FROM lineitem GROUP BY l_orderkey
          HAVING SUM(CAST(l_quantity AS DECIMAL(18,2))) > 220) s
      ON s.l_orderkey = o.o_orderkey
    """,
)
def q_in_subquery_big_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = t(spark, sf_dir, "orders")
    cust = t(spark, sf_dir, "customer")
    li = t(spark, sf_dir, "lineitem")
    big = (
        li.groupBy("l_orderkey")
        .agg(
            F.sum(F.col("l_quantity").cast("decimal(18,2)")).alias("_sq"),
        )
        .where(F.col("_sq") > 220)
        .select(
            F.col("l_orderkey"), F.col("_sq").cast("double").alias("sum_qty")
        )
    )
    return (
        orders.join(big, orders["o_orderkey"] == big["l_orderkey"])
        .join(cust, orders["o_custkey"] == cust["c_custkey"])
        .select("c_custkey", "o_orderkey", "o_totalprice", "sum_qty")
    )


# ---------------------------------------------------------------------------
# Scalar subquery against a global aggregate (TPC-H Q11 shape):
# market segments whose account-balance mass exceeds a fixed fraction
# of the global total. Spark form: the global total is a 1-row
# aggregate cross-joined (broadcast) against the per-segment
# aggregate — the scalar-subquery de-correlation; both aggregates come
# from ONE scan each and the comparison is exact decimal.
@_q(
    "scalar_subquery_share",
    """
    SELECT c_mktsegment,
           CAST(seg_bal AS DOUBLE) AS seg_bal
    FROM (SELECT c_mktsegment,
                 SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS seg_bal
          FROM customer GROUP BY c_mktsegment)
    WHERE seg_bal > (SELECT SUM(CAST(c_acctbal AS DECIMAL(18,2))) * 0.19
                     FROM customer)
    """,
)
def q_scalar_subquery_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = t(spark, sf_dir, "customer")
    seg = cust.groupBy("c_mktsegment").agg(
        F.sum(F.col("c_acctbal").cast("decimal(18,2)")).alias("seg_bal")
    )
    total = cust.agg(
        (F.sum(F.col("c_acctbal").cast("decimal(18,2)")) * F.lit(0.19)).alias("_thr")
    )
    return (
        seg.join(F.broadcast(total))
        .where(F.col("seg_bal") > F.col("_thr"))
        .select("c_mktsegment", F.col("seg_bal").cast("double").alias("seg_bal"))
    )


# ---------------------------------------------------------------------------
# Correlated-average filter (TPC-H Q17 shape): revenue from lines
# whose quantity is below 40% of their part's average quantity.
# Spark form: per-part average once (shuffle on l_partkey, map-side
# partials), joined back — the correlated-scalar de-correlation. The
# avg side is |parts| rows (small) so AQE broadcasts it.
@_q(
    "correlated_avg_filter",
    f"""
    SELECT p.p_brand,
           COUNT(*) AS n_small,
           {sql_dsum('l.l_extendedprice')} AS small_revenue
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey
    JOIN (SELECT l_partkey, {sql_davg('l_quantity')} AS avg_qty
          FROM lineitem GROUP BY l_partkey) a
      ON a.l_partkey = l.l_partkey
    WHERE l.l_quantity < 0.4 * a.avg_qty
    GROUP BY p.p_brand
    """,
)
def q_correlated_avg_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem")
    part = t(spark, sf_dir, "part").select("p_partkey", "p_brand")
    avg_qty = li.groupBy(F.col("l_partkey").alias("_pk")).agg(
        davg(F.col("l_quantity")).alias("avg_qty")
    )
    return (
        li.join(avg_qty, li["l_partkey"] == avg_qty["_pk"])
        .where(F.col("l_quantity") < 0.4 * F.col("avg_qty"))
        .join(part, li["l_partkey"] == part["p_partkey"])
        .groupBy("p_brand")
        .agg(
            F.count(F.lit(1)).alias("n_small"),
            dsum(F.col("l_extendedprice")).alias("small_revenue"),
        )
    )


# ---------------------------------------------------------------------------
# TF-IDF top-3 terms per document (north-star text analysis): token
# frequencies from ONE explode pass feed both tf and df; idf is
# ln(N/df) rounded to 6 dp (the repo's transcendental-determinism
# convention, cf. scalar_queries lnp). Ties broken lexicographically
# so top-3 is total-ordered. At scale: tokens shuffle once on
# (doc_id, term) for tf, df reuses that aggregate (|vocab| rows),
# and the df side broadcasts.
@_q(
    "tfidf_topk",
    """
    WITH toks AS (
      SELECT doc_id, unnest(string_split(lower(regexp_replace(text, '[^a-zA-Z0-9 ]', ' ', 'g')), ' ')) AS term
      FROM documents
    ), toks2 AS (
      SELECT doc_id, term FROM toks WHERE term <> '' AND length(term) >= 3
    ), tf AS (
      SELECT doc_id, term, COUNT(*) AS tf FROM toks2 GROUP BY doc_id, term
    ), df AS (
      SELECT term, COUNT(*) AS df FROM tf GROUP BY term
    ), n AS (
      SELECT COUNT(DISTINCT doc_id) AS n_docs FROM documents
    ), scored AS (
      SELECT tf.doc_id, tf.term,
             round(tf.tf * ln(CAST(n.n_docs AS DOUBLE) / df.df), 6) AS score
      FROM tf JOIN df USING (term) CROSS JOIN n
    )
    SELECT doc_id, term, score, CAST(rk AS INT) AS rk FROM (
      SELECT doc_id, term, score,
             row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, term) AS rk
      FROM scored) WHERE rk <= 3
    """,
)
def q_tfidf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.spread import spread_cpu

    docs = t(spark, sf_dir, "documents")
    toks = spread_cpu(docs).select(
        "doc_id",
        F.explode(
            F.split(
                F.lower(F.regexp_replace(F.col("text"), "[^a-zA-Z0-9 ]", " ")), " "
            )
        ).alias("term"),
    ).where((F.col("term") != "") & (F.length("term") >= 3))
    # tf feeds BOTH the document-frequency aggregate and the scoring
    # join; lazy-checkpoint so the regex tokenize + explode + count
    # pipeline runs once (stage census: two identical serial stages)
    tf = toks.groupBy("doc_id", "term").agg(
        F.count(F.lit(1)).alias("tf")
    ).localCheckpoint(eager=False)
    df = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n_docs = docs.agg(F.countDistinct("doc_id").alias("n_docs"))
    scored = (
        tf.join(F.broadcast(df), "term")
        .join(F.broadcast(n_docs))
        .select(
            "doc_id",
            "term",
            F.round(
                F.col("tf") * F.log(F.col("n_docs").cast("double") / F.col("df")), 6
            ).alias("score"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("score"), F.asc("term"))
    return (
        scored.withColumn("rk", F.row_number().over(w).cast("int"))
        .where(F.col("rk") <= 3)
        .select("doc_id", "term", "score", "rk")
    )
