"""Growth/BI decomposition queries: growth accounting (new/retained/
resurrected/churned), mix-vs-rate revenue decomposition between two
periods, and a join-key skew diagnosis (Gini + heavy hitters).

Determinism: classifications and Gini run on integer month indexes /
counts; monetary rates assemble from exact DECIMAL sums; every float
output is a short fixed-order expression rounded once.

Scale notes (100 TB):
- Growth accounting reduces to distinct (customer, month) activity
  (one shuffle), then window lag/lead per customer — state per
  customer is its activity timeline, never a cross join of months.
- Mix-shift needs only (segment, period) aggregates: six numbers per
  segment cross the wire; the decomposition is arithmetic on the
  driver-sized result.
- Skew diagnosis is the operational pre-check for the salted-join
  path (operators/skew.py): per-key counts (map-side combined), one
  sort by count for the Gini index and the top-k — output is a
  one-row report, input never collected.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ._util import t, registry

QUERIES, ORACLES, _q = registry()


# ---------------------------------------------------------------------------
# Growth accounting over monthly order activity.
@_q(
    "growth_accounting",
    """
    WITH act AS (
      SELECT DISTINCT o_custkey AS cust,
             year(o_orderdate) * 12 + month(o_orderdate) AS mon
      FROM orders
    ), seq AS (
      SELECT cust, mon,
             lag(mon) OVER (PARTITION BY cust ORDER BY mon) AS prev_mon,
             lead(mon) OVER (PARTITION BY cust ORDER BY mon) AS next_mon,
             min(mon) OVER (PARTITION BY cust) AS first_mon
      FROM act
    ), mx AS (SELECT max(mon) AS max_mon FROM act)
    SELECT CAST(mon AS BIGINT) AS mon,
           CAST(COUNT(*) FILTER (mon = first_mon) AS BIGINT) AS n_new,
           CAST(COUNT(*) FILTER (prev_mon = mon - 1) AS BIGINT) AS n_retained,
           CAST(COUNT(*) FILTER (mon <> first_mon
                 AND (prev_mon IS NULL OR prev_mon < mon - 1)) AS BIGINT)
             AS n_resurrected,
           CAST(COUNT(*) FILTER (mon < (SELECT max_mon FROM mx)
                 AND (next_mon IS NULL OR next_mon > mon + 1)) AS BIGINT)
             AS n_churned_next
    FROM seq GROUP BY mon
    """,
)
def q_growth_accounting(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = t(spark, sf_dir, "orders")
    act = orders.select(
        F.col("o_custkey").alias("cust"),
        (F.year("o_orderdate") * 12 + F.month("o_orderdate")).alias("mon"),
    ).distinct()
    w = Window.partitionBy("cust").orderBy("mon")
    wc = Window.partitionBy("cust")
    seq = act.select(
        "cust",
        "mon",
        F.lag("mon").over(w).alias("prev_mon"),
        F.lead("mon").over(w).alias("next_mon"),
        F.min("mon").over(wc).alias("first_mon"),
    )
    mx = act.agg(F.max("mon").alias("max_mon"))
    return (
        seq.crossJoin(F.broadcast(mx))
        .groupBy(F.col("mon").cast("bigint").alias("mon"))
        .agg(
            F.sum(
                F.when(F.col("mon") == F.col("first_mon"), 1).otherwise(0)
            ).alias("n_new"),
            F.sum(
                F.when(F.col("prev_mon") == F.col("mon") - 1, 1).otherwise(0)
            ).alias("n_retained"),
            F.sum(
                F.when(
                    (F.col("mon") != F.col("first_mon"))
                    & (
                        F.col("prev_mon").isNull()
                        | (F.col("prev_mon") < F.col("mon") - 1)
                    ),
                    1,
                ).otherwise(0)
            ).alias("n_resurrected"),
            F.sum(
                F.when(
                    (F.col("mon") < F.col("max_mon"))
                    & (
                        F.col("next_mon").isNull()
                        | (F.col("next_mon") > F.col("mon") + 1)
                    ),
                    1,
                ).otherwise(0)
            ).alias("n_churned_next"),
        )
    )


# ---------------------------------------------------------------------------
# Mix-vs-rate decomposition of average order value between 1997 and
# 1998, by market segment: ΔAOV = Σ rate effects + Σ mix effects +
# Σ interactions. Six exact numbers per segment; the decomposition is
# per-segment arithmetic.
@_q(
    "mix_shift_decomposition",
    """
    WITH base AS (
      SELECT c.c_mktsegment AS seg, year(o.o_orderdate) AS y,
             COUNT(*) AS n,
             SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) AS s
      FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
      WHERE year(o.o_orderdate) IN (1997, 1998)
      GROUP BY 1, 2
    ), piv AS (
      SELECT seg,
        max(CASE WHEN y = 1997 THEN n END) AS n1,
        max(CASE WHEN y = 1998 THEN n END) AS n2,
        max(CASE WHEN y = 1997 THEN CAST(s AS DOUBLE) END) AS s1,
        max(CASE WHEN y = 1998 THEN CAST(s AS DOUBLE) END) AS s2
      FROM base GROUP BY seg
    ), tot AS (
      SELECT SUM(n1) AS t1, SUM(n2) AS t2 FROM piv
    )
    SELECT seg,
           round(s1 / n1, 6) AS rate1, round(s2 / n2, 6) AS rate2,
           round(CAST(n1 AS DOUBLE) / t1, 6) AS w1,
           round(CAST(n2 AS DOUBLE) / t2, 6) AS w2,
           round((CAST(n1 AS DOUBLE) / t1) * (s2 / n2 - s1 / n1), 6)
             AS rate_effect,
           round((CAST(n2 AS DOUBLE) / t2 - CAST(n1 AS DOUBLE) / t1)
                 * (s1 / n1), 6) AS mix_effect,
           round((CAST(n2 AS DOUBLE) / t2 - CAST(n1 AS DOUBLE) / t1)
                 * (s2 / n2 - s1 / n1), 6) AS interaction
    FROM piv CROSS JOIN tot
    """,
)
def q_mix_shift_decomposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = t(spark, sf_dir, "orders")
    cust = t(spark, sf_dir, "customer")
    d = F.col("o_totalprice").cast("decimal(18,2)")
    base = (
        orders.join(cust, orders.o_custkey == cust.c_custkey)
        .where(F.year("o_orderdate").isin(1997, 1998))
        .groupBy(
            F.col("c_mktsegment").alias("seg"),
            F.year("o_orderdate").alias("y"),
        )
        .agg(F.count("*").alias("n"), F.sum(d).alias("s"))
    )
    def pick(col, y):
        return F.max(F.when(F.col("y") == y, F.col(col)))
    piv = base.groupBy("seg").agg(
        pick("n", 1997).alias("n1"),
        pick("n", 1998).alias("n2"),
        pick("s", 1997).cast("double").alias("s1"),
        pick("s", 1998).cast("double").alias("s2"),
    )
    tot = piv.agg(F.sum("n1").alias("t1"), F.sum("n2").alias("t2"))
    n1, n2 = F.col("n1"), F.col("n2")
    s1, s2 = F.col("s1"), F.col("s2")
    t1, t2 = F.col("t1"), F.col("t2")
    r1, r2 = s1 / n1, s2 / n2
    w1, w2 = n1.cast("double") / t1, n2.cast("double") / t2
    return piv.crossJoin(F.broadcast(tot)).select(
        "seg",
        F.round(r1, 6).alias("rate1"),
        F.round(r2, 6).alias("rate2"),
        F.round(w1, 6).alias("w1"),
        F.round(w2, 6).alias("w2"),
        F.round(w1 * (r2 - r1), 6).alias("rate_effect"),
        F.round((w2 - w1) * r1, 6).alias("mix_effect"),
        F.round((w2 - w1) * (r2 - r1), 6).alias("interaction"),
    )


# ---------------------------------------------------------------------------
# Join-key skew diagnosis for lineitem.l_suppkey: Gini index of the
# key-count distribution (integer lattice: G = (2*Σ i*c_i − (n+1)*Σc)
# / (n*Σc) over counts sorted asc) plus the top-5 heavy keys — the
# report that decides whether a join needs the salted path.
@_q(
    "join_key_skew_report",
    """
    WITH cnt AS (
      SELECT l_suppkey AS key, COUNT(*) AS c FROM lineitem GROUP BY 1
    ), ranked AS (
      SELECT key, c, row_number() OVER (ORDER BY c, key) AS i FROM cnt
    ), g AS (
      SELECT COUNT(*) AS n, SUM(c) AS tot, SUM(i * c) AS ic,
             max(c) AS max_c FROM ranked
    ), top5 AS (
      SELECT string_agg(CAST(key AS VARCHAR), '|' ORDER BY c DESC, key) AS hot
      FROM (SELECT key, c FROM cnt ORDER BY c DESC, key LIMIT 5)
    )
    SELECT CAST(g.n AS BIGINT) AS n_keys, CAST(g.tot AS BIGINT) AS n_rows,
           CAST(g.max_c AS BIGINT) AS max_key_rows,
           round(CAST(2 * g.ic - (g.n + 1) * g.tot AS DOUBLE)
                 / (g.n * g.tot), 9) AS gini,
           top5.hot AS top5_keys
    FROM g CROSS JOIN top5
    """,
)
def q_join_key_skew_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem")
    cnt = li.groupBy(F.col("l_suppkey").alias("key")).agg(
        F.count("*").alias("c")
    )
    # global rank over the key-count frame (key-grain can be huge at
    # 100 TB) via the distributed prefix scan, not a single-partition
    # row_number window (round-7)
    from ..operators.quantiles import with_global_rank

    ranked = with_global_rank(cnt, ["c", "key"], out_col="i")
    g = ranked.agg(
        F.count("*").alias("n"),
        F.sum("c").alias("tot"),
        F.sum(F.col("i") * F.col("c")).alias("ic"),
        F.max("c").alias("max_c"),
    )
    top5 = (
        cnt.orderBy(F.desc("c"), F.asc("key"))
        .limit(5)
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct((-F.col("c")).alias("nc"), "key"))
                    ),
                    lambda x: x["key"].cast("string"),
                ),
                "|",
            ).alias("hot")
        )
    )
    n, tot, ic = F.col("n"), F.col("tot"), F.col("ic")
    return g.crossJoin(F.broadcast(top5)).select(
        n.cast("bigint").alias("n_keys"),
        tot.cast("bigint").alias("n_rows"),
        F.col("max_c").cast("bigint").alias("max_key_rows"),
        F.round(
            (2 * ic - (n + 1) * tot).cast("double") / (n * tot), 9
        ).alias("gini"),
        F.col("hot").alias("top5_keys"),
    )


# ---------------------------------------------------------------------------
# Trending movers: parts ranked by 1997 vs 1998 revenue; report the
# biggest rank climbers among parts present in both years. Rank delta
# on the integer lattice (dense ranks, (revenue DESC, part) total
# order) — the "what's trending" report, computed from two per-period
# aggregates joined on the key, never a full history scan.
@_q(
    "trending_rank_movers",
    """
    WITH rev AS (
      SELECT l.l_partkey AS part, year(o.o_orderdate) AS y,
             SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))) AS r
      FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
      WHERE year(o.o_orderdate) IN (1997, 1998)
      GROUP BY 1, 2
    ), ranked AS (
      SELECT part, y,
             row_number() OVER (PARTITION BY y ORDER BY r DESC, part) AS rk
      FROM rev
    ), piv AS (
      SELECT a.part, a.rk AS rk_97, b.rk AS rk_98,
             a.rk - b.rk AS climb
      FROM ranked a JOIN ranked b ON a.part = b.part
      WHERE a.y = 1997 AND b.y = 1998
    )
    SELECT part, CAST(rk_97 AS BIGINT) AS rk_97,
           CAST(rk_98 AS BIGINT) AS rk_98,
           CAST(climb AS BIGINT) AS climb
    FROM piv ORDER BY climb DESC, part LIMIT 25
    """,
)
def q_trending_rank_movers(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem")
    orders = t(spark, sf_dir, "orders")
    rev = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .where(F.year("o_orderdate").isin(1997, 1998))
        .groupBy(
            F.col("l_partkey").alias("part"),
            F.year("o_orderdate").alias("y"),
        )
        .agg(F.sum(F.col("l_extendedprice").cast("decimal(18,2)")).alias("r"))
    )
    rk = F.row_number().over(
        Window.partitionBy("y").orderBy(F.desc("r"), F.asc("part"))
    )
    ranked = rev.withColumn("rk", rk)
    a = ranked.where(F.col("y") == 1997).select(
        "part", F.col("rk").alias("rk_97")
    )
    b = ranked.where(F.col("y") == 1998).select(
        F.col("part").alias("part_b"), F.col("rk").alias("rk_98")
    )
    return (
        a.join(b, a.part == b.part_b)
        .select(
            "part",
            F.col("rk_97").cast("bigint").alias("rk_97"),
            F.col("rk_98").cast("bigint").alias("rk_98"),
            (F.col("rk_97") - F.col("rk_98")).cast("bigint").alias("climb"),
        )
        .orderBy(F.desc("climb"), F.asc("part"))
        .limit(25)
    )


# ---------------------------------------------------------------------------
# Join-strategy advisor: the rule table a planner (or an engineer
# reading join_key_skew_report) applies — per candidate join of the
# star schema, measure build-side size and probe-side key skew from
# exact counts and emit the recommended physical strategy:
#   build rows <= broadcast threshold        -> BROADCAST
#   else max key share > skew threshold      -> SALTED shuffle join
#   else                                     -> SHUFFLE (sort-merge)
# This is a decision ARTIFACT, not a hint Spark consumes — AQE makes
# the same call from runtime stats; the query makes the reasoning
# auditable (and testable) ahead of time. One aggregation per side.
_ADV_BROADCAST_ROWS = 1000
_ADV_SKEW_SHARE = 0.05


def _sql_join_advisor() -> str:
    edges = [
        ("lineitem->supplier", "lineitem", "l_suppkey", "supplier"),
        ("lineitem->part", "lineitem", "l_partkey", "part"),
        ("lineitem->orders", "lineitem", "l_orderkey", "orders"),
        ("orders->customer", "orders", "o_custkey", "customer"),
        ("customer->nation", "customer", "c_nationkey", "nation"),
    ]
    arms = []
    for label, fact, fk, dim in edges:
        arms.append(
            f"""SELECT '{label}' AS join_edge,
             (SELECT COUNT(*) FROM {dim}) AS build_rows,
             (SELECT COUNT(*) FROM {fact}) AS probe_rows,
             (SELECT max(c) FROM (SELECT COUNT(*) AS c FROM {fact}
                                  GROUP BY {fk})) AS max_key_rows"""
        )
    u = "\n      UNION ALL ".join(arms)
    return f"""
    WITH m AS ({u})
    SELECT join_edge, CAST(build_rows AS BIGINT) AS build_rows,
           CAST(probe_rows AS BIGINT) AS probe_rows,
           CAST(max_key_rows AS BIGINT) AS max_key_rows,
           round(CAST(max_key_rows AS DOUBLE) / probe_rows, 6)
             AS max_key_share,
           CASE WHEN build_rows <= {_ADV_BROADCAST_ROWS} THEN 'BROADCAST'
                WHEN CAST(max_key_rows AS DOUBLE) / probe_rows
                     > {_ADV_SKEW_SHARE} THEN 'SALTED'
                ELSE 'SHUFFLE' END AS strategy
    FROM m ORDER BY join_edge
    """


@_q("join_strategy_advisor", _sql_join_advisor())
def q_join_strategy_advisor(spark: SparkSession, sf_dir: str) -> DataFrame:
    edges = [
        ("lineitem->supplier", "lineitem", "l_suppkey", "supplier"),
        ("lineitem->part", "lineitem", "l_partkey", "part"),
        ("lineitem->orders", "lineitem", "l_orderkey", "orders"),
        ("orders->customer", "orders", "o_custkey", "customer"),
        ("customer->nation", "customer", "c_nationkey", "nation"),
    ]
    out = None
    for label, fact, fk, dim in edges:
        f_df = t(spark, sf_dir, fact)
        build = t(spark, sf_dir, dim).agg(F.count(F.lit(1)).alias("build_rows"))
        probe = f_df.agg(F.count(F.lit(1)).alias("probe_rows"))
        mx = (
            f_df.groupBy(fk)
            .agg(F.count(F.lit(1)).alias("c"))
            .agg(F.max("c").alias("max_key_rows"))
        )
        row = (
            build.crossJoin(probe)
            .crossJoin(mx)
            .select(F.lit(label).alias("join_edge"), "build_rows",
                    "probe_rows", "max_key_rows")
        )
        out = row if out is None else out.unionByName(row)
    share = F.col("max_key_rows").cast("double") / F.col("probe_rows")
    return out.select(
        "join_edge",
        F.col("build_rows").cast("bigint").alias("build_rows"),
        F.col("probe_rows").cast("bigint").alias("probe_rows"),
        F.col("max_key_rows").cast("bigint").alias("max_key_rows"),
        F.round(share, 6).alias("max_key_share"),
        F.when(F.col("build_rows") <= _ADV_BROADCAST_ROWS, "BROADCAST")
        .when(share > _ADV_SKEW_SHARE, "SALTED")
        .otherwise("SHUFFLE")
        .alias("strategy"),
    ).orderBy("join_edge")


# ---------------------------------------------------------------------------
# Discount elasticity by brand: per-brand OLS slope of quantity on
# discount — "does discounting move volume for this brand". Slope =
# (nΣxy − ΣxΣy)/(nΣx² − (Σx)²) from per-brand power sums; discount
# has ≤2 dp and quantity is integral, so the sums are decimal-exact
# and the slope is ONE float division per brand — a grouped
# regression with zero per-group iteration (the pixel_trend_regression
# discipline on business data).
@_q(
    "discount_elasticity_by_brand",
    """
    WITH j AS (
      SELECT p.p_brand AS brand,
             CAST(l.l_discount AS DECIMAL(18,2)) AS x,
             CAST(l.l_quantity AS DECIMAL(18,2)) AS y
      FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    ), m AS (
      SELECT brand, COUNT(*) AS n,
             SUM(x) AS sx, SUM(y) AS sy,
             SUM(CAST(x * x AS DECIMAL(30,4))) AS sxx,
             SUM(CAST(x * y AS DECIMAL(30,4))) AS sxy
      FROM j GROUP BY brand
    )
    SELECT brand, CAST(n AS BIGINT) AS n_lines,
           round((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                  - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                 / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                    - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)), 6)
             AS qty_per_discount_slope
    FROM m ORDER BY brand
    """,
)
def q_discount_elasticity_by_brand(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem").select(
        "l_partkey",
        F.col("l_discount").cast("decimal(18,2)").alias("x"),
        F.col("l_quantity").cast("decimal(18,2)").alias("y"),
    )
    part = t(spark, sf_dir, "part").select("p_partkey", "p_brand")
    j = li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
    m = j.groupBy(F.col("p_brand").alias("brand")).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum((F.col("x") * F.col("x")).cast("decimal(30,4)")).alias("sxx"),
        F.sum((F.col("x") * F.col("y")).cast("decimal(30,4)")).alias("sxy"),
    )
    n = F.col("n").cast("double")
    slope = (n * F.col("sxy").cast("double") - F.col("sx").cast("double") * F.col("sy").cast("double")) / (
        n * F.col("sxx").cast("double") - F.col("sx").cast("double") * F.col("sx").cast("double")
    )
    return m.select(
        "brand",
        F.col("n").cast("bigint").alias("n_lines"),
        F.round(slope, 6).alias("qty_per_discount_slope"),
    ).orderBy("brand")


# ---------------------------------------------------------------------------
# Order→ship latency percentiles per priority: latency in integer
# days (exact); exact interpolated percentiles (p50/p90/p99) per
# priority class — the fulfilment-SLA distribution. NOTE the fixture
# is not causally consistent (≈half the ship dates precede the order
# date), so latencies include negatives; the distribution report is
# faithful to the data, which is exactly what an SLA audit must be.
@_q(
    "ship_latency_percentiles",
    """
    WITH lat AS (
      SELECT o.o_orderpriority AS priority,
             date_diff('day', CAST(o.o_orderdate AS DATE),
                       CAST(l.l_shipdate AS DATE)) AS days
      FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
    )
    SELECT priority, CAST(COUNT(*) AS BIGINT) AS n_lines,
           round(quantile_cont(days, 0.5), 6) AS p50_days,
           round(quantile_cont(days, 0.9), 6) AS p90_days,
           round(quantile_cont(days, 0.99), 6) AS p99_days
    FROM lat GROUP BY priority ORDER BY priority
    """,
)
def q_ship_latency_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    orders = t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate", "o_orderpriority"
    )
    lat = li.join(orders, li.l_orderkey == orders.o_orderkey).select(
        F.col("o_orderpriority").alias("priority"),
        F.datediff(
            F.col("l_shipdate").cast("date"), F.col("o_orderdate").cast("date")
        ).alias("days"),
    )
    return (
        lat.groupBy("priority")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.round(F.expr("percentile(days, 0.5D)"), 6).alias("p50_days"),
            F.round(F.expr("percentile(days, 0.9D)"), 6).alias("p90_days"),
            F.round(F.expr("percentile(days, 0.99D)"), 6).alias("p99_days"),
        )
        .select(
            "priority",
            F.col("n_lines").cast("bigint").alias("n_lines"),
            "p50_days",
            "p90_days",
            "p99_days",
        )
        .orderBy("priority")
    )


# ---------------------------------------------------------------------------
# Supplier scorecard — the BI composite a procurement team actually
# reads: per supplier, exact-decimal revenue, distinct-part breadth,
# return rate (share of 'R' lines), and median ship latency, joined
# with the supplier dimension. ONE pass over lineitem computes every
# measure (conditional aggregates + exact interpolated median); the
# dimension join broadcasts. Top-20 by revenue, deterministic ties.
@_q(
    "supplier_scorecard",
    """
    WITH m AS (
      SELECT l.l_suppkey,
             CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))
                      * (1 - CAST(l.l_discount AS DECIMAL(18,2))))
                  AS DOUBLE) AS revenue,
             COUNT(*) AS n_lines,
             COUNT(DISTINCT l.l_partkey) AS n_parts,
             round(SUM(CASE WHEN l.l_returnflag = 'R' THEN 1 ELSE 0 END)
                   / CAST(COUNT(*) AS DOUBLE), 6) AS return_rate,
             round(quantile_cont(date_diff('day',
                     CAST(o.o_orderdate AS DATE),
                     CAST(l.l_shipdate AS DATE)), 0.5), 6) AS median_latency
      FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
      GROUP BY l.l_suppkey
    )
    SELECT s.s_suppkey, s.s_name,
           round(m.revenue, 2) AS revenue,
           CAST(m.n_lines AS BIGINT) AS n_lines,
           CAST(m.n_parts AS BIGINT) AS n_parts,
           m.return_rate, m.median_latency
    FROM m JOIN supplier s ON s.s_suppkey = m.l_suppkey
    ORDER BY revenue DESC, s.s_suppkey LIMIT 20
    """,
)
def q_supplier_scorecard(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem")
    orders = t(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    supp = t(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    j = li.join(orders, li.l_orderkey == orders.o_orderkey)
    rev = F.col("l_extendedprice").cast("decimal(18,2)") * (
        F.lit(1) - F.col("l_discount").cast("decimal(18,2)")
    )
    lat = F.datediff(
        F.col("l_shipdate").cast("date"), F.col("o_orderdate").cast("date")
    )
    m = j.groupBy("l_suppkey").agg(
        F.sum(rev).cast("double").alias("revenue"),
        F.count(F.lit(1)).alias("n_lines"),
        F.countDistinct("l_partkey").alias("n_parts"),
        F.round(
            F.sum(F.when(F.col("l_returnflag") == "R", 1).otherwise(0))
            / F.count(F.lit(1)).cast("double"),
            6,
        ).alias("return_rate"),
        F.round(
            F.expr(
                "percentile(datediff(cast(l_shipdate as date),"
                " cast(o_orderdate as date)), 0.5D)"
            ),
            6,
        ).alias("median_latency"),
    )
    _ = lat  # latency is computed inside the agg expression above
    return (
        m.join(F.broadcast(supp), m.l_suppkey == supp.s_suppkey)
        .select(
            "s_suppkey",
            "s_name",
            F.round("revenue", 2).alias("revenue"),
            F.col("n_lines").cast("bigint").alias("n_lines"),
            F.col("n_parts").cast("bigint").alias("n_parts"),
            "return_rate",
            "median_latency",
        )
        .orderBy(F.desc("revenue"), F.asc("s_suppkey"))
        .limit(20)
    )


# ---------------------------------------------------------------------------
# Week-over-week revenue change: the dashboard staple — weekly
# decimal-exact revenue with lag-1 percent change and a direction
# flag. ISO week bucketing via date_trunc('week') in both engines
# (identical Monday-start semantics); one aggregation + one lag
# window on the small week table.
@_q(
    "revenue_wow_change",
    """
    WITH weekly AS (
      SELECT CAST(date_trunc('week', o_orderdate) AS DATE) AS wk,
             SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS rev
      FROM orders GROUP BY 1
    )
    SELECT strftime(wk, '%Y-%m-%d') AS week_start,
           CAST(rev AS DOUBLE) AS revenue,
           round(CAST(rev - lag(rev) OVER (ORDER BY wk) AS DOUBLE)
                 / CAST(lag(rev) OVER (ORDER BY wk) AS DOUBLE) * 100, 6)
             AS wow_pct,
           CASE WHEN lag(rev) OVER (ORDER BY wk) IS NULL THEN 'first'
                WHEN rev >= lag(rev) OVER (ORDER BY wk) THEN 'up'
                ELSE 'down' END AS direction
    FROM weekly ORDER BY wk
    """,
)
def q_revenue_wow_change(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = t(spark, sf_dir, "orders")
    weekly = orders.groupBy(
        F.date_trunc("week", "o_orderdate").cast("date").alias("wk")
    ).agg(F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("rev"))
    w = Window.orderBy("wk")
    prev = F.lag("rev").over(w)
    return weekly.select(
        F.date_format("wk", "yyyy-MM-dd").alias("week_start"),
        F.col("rev").cast("double").alias("revenue"),
        F.round(
            (F.col("rev") - prev).cast("double") / prev.cast("double") * 100, 6
        ).alias("wow_pct"),
        F.when(prev.isNull(), "first")
        .when(F.col("rev") >= prev, "up")
        .otherwise("down")
        .alias("direction"),
    ).orderBy("wk")


# ---------------------------------------------------------------------------
# Cohort LTV curve — the product metric behind payback planning:
# users are cohorted by FIRST-event week, and each cohort's
# purchase revenue accumulates over cohort AGE (weeks since
# signup), reported per cohort-age cell as cumulative revenue per
# cohort user. Exactness: revenue is a 2-dp decimal rollup, the
# cumulative step is an ordered decimal window sum, and the single
# division to per-user LTV rounds at the end. The (cohort, age)
# lattice is calendar-bounded — the only row-volume pass is the
# first rollup.
@_q(
    "cohort_ltv_curve",
    """
    WITH firsts AS (
      SELECT user_id,
             CAST(date_diff('week', DATE '2024-01-01',
                            MIN(CAST(ts AS DATE))) AS BIGINT) AS cohort
      FROM events GROUP BY user_id
    ),
    sizes AS (
      SELECT cohort, CAST(COUNT(*) AS BIGINT) AS n_users
      FROM firsts GROUP BY cohort
    ),
    rev AS (
      SELECT f.cohort,
             CAST(date_diff('week', DATE '2024-01-01', CAST(e.ts AS DATE))
                  AS BIGINT) - f.cohort AS age,
             CAST(SUM(CAST(round(e.value, 2) AS DECIMAL(38,2)))
                  AS DECIMAL(38,2)) AS r
      FROM events e JOIN firsts f ON f.user_id = e.user_id
      WHERE e.event_type = 'purchase'
      GROUP BY 1, 2
    )
    SELECT r.cohort, r.age, s.n_users,
           round(CAST(SUM(r.r) OVER (PARTITION BY r.cohort ORDER BY r.age)
                      AS DOUBLE) / s.n_users, 6) AS cum_ltv_per_user
    FROM rev r JOIN sizes s ON s.cohort = r.cohort
    ORDER BY r.cohort, r.age
    """,
)
def q_cohort_ltv_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events")
    week = lambda c: F.floor(  # noqa: E731
        F.datediff(c.cast("date"), F.lit("2024-01-01").cast("date")) / 7
    ).cast("bigint")
    firsts = ev.groupBy("user_id").agg(
        week(F.min("ts")).alias("cohort")
    )
    sizes = firsts.groupBy("cohort").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_users")
    )
    rev = (
        ev.where(F.col("event_type") == "purchase")
        .join(firsts, "user_id")
        .groupBy(
            "cohort", (week(F.col("ts")) - F.col("cohort")).alias("age")
        )
        .agg(
            F.sum(F.round(F.col("value"), 2).cast("decimal(38,2)"))
            .cast("decimal(38,2)")
            .alias("r")
        )
    )
    w = (
        Window.partitionBy("cohort")
        .orderBy("age")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        rev.join(F.broadcast(sizes), "cohort")
        .select(
            "cohort",
            "age",
            "n_users",
            F.round(
                F.sum("r").over(w).cast("double") / F.col("n_users"), 6
            ).alias("cum_ltv_per_user"),
        )
        .orderBy("cohort", "age")
    )
