"""Round-15 operator tier: classical statistics, spectral/seasonal
time-series tests, index-number economics, and robust estimators that
the registry did not yet cover (Geary's C, Brown-Forsythe, Siegel
repeated-median, transfer entropy, Yule-Walker AR(2), Anderson-Darling,
Grubbs, Wald-Wolfowitz runs, Chow break, Engle-Granger cointegration,
quantile-shape moments, modified-z outliers, ...).

Determinism strategy (house seam): order-sensitive reductions go to
exact INTEGER/DECIMAL arithmetic (cents lattices, scale-preserving
decimal sums of 12-dp-rounded transcendental terms); small fixed-arity
sums (per-group/per-cell, enumerable) are pivoted to ONE row and
assembled in a fixed left-assoc float expression, identical in both
engines (the Ljung-Box pattern).

Scale notes (100 TB): every query aggregates to a BOUNDED spine first —
the ~2400-day order calendar (constant in SF), the 5-value priority
enum, the 2^3 binarized-state cube — so pairwise self-joins and window
passes run on fixed-size inputs no matter the row count; the only
row-scaled stages are single groupBy/agg passes with map-side partial
aggregation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ._util import t, registry
from .graph_queries import _SQL_EDGES as _EDGES_CTE

QUERIES, ORACLES, _q = registry()


# Shared bounded day spine: daily revenue in exact integer cents.
_SQL_DAILY = """
      SELECT o_orderdate AS d,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT) AS y
      FROM orders GROUP BY 1
"""


def _daily_cents(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        t(spark, sf_dir, "orders")
        .groupBy(F.col("o_orderdate").alias("d"))
        .agg(
            (F.sum(F.col("o_totalprice").cast("decimal(18,2)")) * 100)
            .cast("bigint")
            .alias("y")
        )
    )


# ---------------------------------------------------------------------------
# Geary's C over the day spine with lag-1 chain weights (the classic
# contiguity statistic, complementing local Moran's I which the
# registry already carries). C = n * sum (x_t - x_{t-1})^2 /
# (2 * (n*sum(x^2) - S^2)) after clearing the rational mean — every
# term an exact DECIMAL(38,0), one final double division.
@_q(
    "gearys_c",
    f"""
    WITH daily AS ({_SQL_DAILY}),
    lagged AS (
      SELECT y, lag(y) OVER (ORDER BY d) AS yp FROM daily
    ),
    num AS (
      SELECT CAST(SUM(CAST((y - yp) AS DECIMAL(19,0)) * CAST((y - yp) AS DECIMAL(19,0))) AS DECIMAL(38,0))
               AS n1,
             COUNT(yp) AS npairs
      FROM lagged WHERE yp IS NOT NULL
    ),
    mom AS (
      SELECT COUNT(*) AS n,
             CAST(SUM(CAST(y AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS s,
             CAST(SUM(CAST(y AS DECIMAL(19,0)) * CAST(y AS DECIMAL(19,0))) AS DECIMAL(38,0)) AS s2
      FROM daily
    )
    SELECT CAST(n AS BIGINT) AS n_days,
           round(CAST(n AS DOUBLE) * CAST(n1 AS DOUBLE)
                 / (2.0 * (CAST(n AS DOUBLE) * CAST(s2 AS DOUBLE)
                           - CAST(s AS DOUBLE) * CAST(s AS DOUBLE))), 9)
             AS gearys_c
    FROM num, mom
    """,
)
def q_gearys_c(spark: SparkSession, sf_dir: str) -> DataFrame:
    daily = _daily_cents(spark, sf_dir)
    w = Window.orderBy("d")
    lagged = daily.select("y", F.lag("y").over(w).alias("yp"))
    num = lagged.where(F.col("yp").isNotNull()).agg(
        F.sum(
            (F.col("y") - F.col("yp")).cast("decimal(38,0)")
            * (F.col("y") - F.col("yp")).cast("decimal(38,0)")
        )
        .cast("decimal(38,0)")
        .alias("n1"),
        F.count("yp").alias("npairs"),
    )
    mom = daily.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("y").cast("decimal(38,0)")).cast("decimal(38,0)").alias("s"),
        F.sum(F.col("y").cast("decimal(38,0)") * F.col("y").cast("decimal(38,0)"))
        .cast("decimal(38,0)")
        .alias("s2"),
    )
    return num.crossJoin(mom).select(
        F.col("n").cast("bigint").alias("n_days"),
        F.round(
            F.col("n").cast("double") * F.col("n1").cast("double")
            / (
                F.lit(2.0)
                * (
                    F.col("n").cast("double") * F.col("s2").cast("double")
                    - F.col("s").cast("double") * F.col("s").cast("double")
                )
            ),
            9,
        ).alias("gearys_c"),
    )


# ---------------------------------------------------------------------------
# Brown-Forsythe (median-based Levene) homogeneity-of-variance test
# across the 5 order priorities. |y - median| is kept exact on the
# HALF-CENT lattice (z2 = |2y - round(2*median)|, a BIGINT: the median
# of an even count lands on .5). The 5 per-group means pivot into one
# row and the between-group sum assembles in fixed left-assoc float
# order (the Ljung-Box pattern); the within-group sum is exact decimal.
_PRIOS = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]


def _bf_sql() -> str:
    gcols = ",\n             ".join(
        f"""SUM(CASE WHEN prio = '{p}' THEN zv ELSE 0 END) AS za{i},
             SUM(CASE WHEN prio = '{p}' THEN 1 ELSE 0 END) AS nb{i},
             SUM(CASE WHEN prio = '{p}'
                      THEN CAST(zv AS DECIMAL(19,0)) * CAST(zv AS DECIMAL(19,0)) ELSE 0 END) AS qc{i}"""
        for i, p in enumerate(_PRIOS)
    )
    n_tot = " + ".join(f"nb{i}" for i in range(5))
    mean = f"(CAST({' + '.join(f'za{i}' for i in range(5))} AS DOUBLE) / ({n_tot}))"
    between = " + ".join(
        f"nb{i} * (CAST(za{i} AS DOUBLE)/nb{i} - {mean})"
        f" * (CAST(za{i} AS DOUBLE)/nb{i} - {mean})"
        for i in range(5)
    )
    within = " + ".join(
        f"(CAST(qc{i} AS DOUBLE)"
        f" - CAST(za{i} AS DOUBLE) * CAST(za{i} AS DOUBLE) / nb{i})"
        for i in range(5)
    )
    return f"""
    WITH vals AS (
      SELECT o_orderpriority AS prio,
             CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS y
      FROM vals_src
    ),
    med AS (
      SELECT prio, CAST(round(2 * median(y)) AS BIGINT) AS med2
      FROM vals GROUP BY prio
    ),
    z AS (
      SELECT v.prio, abs(2 * v.y - m.med2) AS zv
      FROM vals v JOIN med m ON v.prio = m.prio
    ),
    piv AS (
      SELECT {gcols}
      FROM z
    )
    SELECT CAST({n_tot} AS BIGINT) AS n_total,
           5 AS k_groups,
           round((({n_tot} - 5) / 4.0) * ({between}) / ({within}), 6)
             AS bf_statistic
    FROM piv
    """.replace(
        "FROM vals_src", "FROM orders"
    )


@_q("levene_brown_forsythe", _bf_sql())
def q_levene_brown_forsythe(spark: SparkSession, sf_dir: str) -> DataFrame:
    vals = t(spark, sf_dir, "orders").select(
        F.col("o_orderpriority").alias("prio"),
        (F.col("o_totalprice").cast("decimal(18,2)") * 100)
        .cast("bigint")
        .alias("y"),
    )
    med = vals.groupBy("prio").agg(
        F.round(2 * F.median("y")).cast("bigint").alias("med2")
    )
    z = vals.join(med, "prio").select(
        "prio", F.abs(2 * F.col("y") - F.col("med2")).alias("z2")
    )
    aggs = []
    for i, p in enumerate(_PRIOS):
        is_p = F.col("prio") == p
        aggs += [
            F.sum(F.when(is_p, F.col("z2")).otherwise(0)).alias(f"z{i}"),
            F.sum(F.when(is_p, 1).otherwise(0)).alias(f"n{i}"),
            F.sum(
                F.when(
                    is_p,
                    F.col("z2").cast("decimal(38,0)")
                    * F.col("z2").cast("decimal(38,0)"),
                ).otherwise(F.lit(0).cast("decimal(38,0)"))
            ).alias(f"q{i}"),
        ]
    piv = z.agg(*aggs)
    n_tot = sum(F.col(f"n{i}") for i in range(5))
    m = sum(F.col(f"z{i}").cast("double") for i in range(5)) / n_tot
    piv = piv.withColumn("m", m)
    between = None
    within = None
    for i in range(5):
        gm = F.col(f"z{i}").cast("double") / F.col(f"n{i}")
        b = F.col(f"n{i}") * (gm - F.col("m")) * (gm - F.col("m"))
        wv = F.col(f"q{i}").cast("double") - F.col(f"z{i}").cast("double") * F.col(
            f"z{i}"
        ).cast("double") / F.col(f"n{i}")
        between = b if between is None else between + b
        within = wv if within is None else within + wv
    return piv.select(
        n_tot.cast("bigint").alias("n_total"),
        F.lit(5).alias("k_groups"),
        F.round(((n_tot - 5) / F.lit(4.0)) * between / within, 6).alias(
            "bf_statistic"
        ),
    )


# ---------------------------------------------------------------------------
# Siegel repeated-median regression of daily revenue on day index: the
# 50%-breakdown robust line. Both medians interpolate sorted doubles
# identically in both engines; each slope is ONE exact-rounded double
# division of exact integers. O(spine^2) pairs — ~2.9M at any SF
# (bounded calendar), never O(rows^2).
@_q(
    "siegel_repeated_median",
    f"""
    WITH daily AS ({_SQL_DAILY}),
    idx AS (
      SELECT row_number() OVER (ORDER BY d) AS i, y FROM daily
    ),
    inner_med AS (
      SELECT a.i,
             median(CAST(b.y - a.y AS DOUBLE) / (b.i - a.i)) AS mi,
             any_value(a.y) AS y
      FROM idx a JOIN idx b ON b.i <> a.i
      GROUP BY a.i
    ),
    slope AS (SELECT median(mi) AS slope FROM inner_med)
    SELECT round(slope, 6) AS slope_cents_per_day,
           round((SELECT median(y - slope * i)
                  FROM inner_med JOIN slope ON TRUE), 2) AS intercept_cents
    FROM slope
    """,
)
def q_siegel_repeated_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    daily = _daily_cents(spark, sf_dir)
    idx = daily.select(
        F.row_number().over(Window.orderBy("d")).alias("i"), "y"
    ).localCheckpoint(eager=True)
    # The checkpointed spine is ONE partition (it exits a global-order
    # window), so without a spread the pair-generating nested-loop join
    # streams every O(spine^2) row — and its map-side partial of the
    # groupBy(ia) — through a single task (guide §2.5: measured 8-21 s
    # at sf0.1 with 31 idle cores). Hash-spreading the streamed side
    # by i parallelizes pair generation; the result is join-order-free.
    spread = spark.sparkContext.defaultParallelism
    a = idx.repartition(spread, "i").select(
        F.col("i").alias("ia"), F.col("y").alias("ya")
    )
    b = idx.select(F.col("i").alias("ib"), F.col("y").alias("yb"))
    inner = (
        a.join(b, F.col("ib") != F.col("ia"))
        .groupBy("ia")
        .agg(
            F.median(
                (F.col("yb") - F.col("ya")).cast("double")
                / (F.col("ib") - F.col("ia"))
            ).alias("mi"),
            F.any_value("ya").alias("y"),
        )
    )
    slope = inner.agg(F.median("mi").alias("slope"))
    out = inner.crossJoin(slope).agg(
        F.round(F.any_value("slope"), 6).alias("slope_cents_per_day"),
        F.round(
            F.median(F.col("y") - F.col("slope") * F.col("ia")), 2
        ).alias("intercept_cents"),
    )
    return out


# ---------------------------------------------------------------------------
# Transfer entropy between the binarized daily order-count series (X)
# and daily revenue series (Y), both directions. The 2^3 state cube is
# exact integer counts; the <= 8 plug-in terms are each rounded to 12dp
# and summed in fixed cell order via a pivoted single row.
def _te_sql() -> str:
    def te(src: str, dst: str) -> str:
        # TE(src->dst): sum over (dn, dp, sp) of c3/n * log2(c3*c1/(c2a*c2b))
        terms = []
        for dn in (0, 1):
            for dp in (0, 1):
                for sp in (0, 1):
                    c3 = f"c_{dst}{dn}{dp}{sp}_{src}"
                    c2a = f"(c_{dst}0{dp}{sp}_{src} + c_{dst}1{dp}{sp}_{src})"
                    c2b = f"(c_{dst}{dn}{dp}0_{src} + c_{dst}{dn}{dp}1_{src})"
                    c1 = (
                        f"(c_{dst}0{dp}0_{src} + c_{dst}0{dp}1_{src}"
                        f" + c_{dst}1{dp}0_{src} + c_{dst}1{dp}1_{src})"
                    )
                    terms.append(
                        f"CASE WHEN {c3} > 0 THEN round(CAST({c3} AS DOUBLE)/nn"
                        f" * log2(CAST({c3} AS DOUBLE) * {c1}"
                        f" / (CAST({c2a} AS DOUBLE) * {c2b})), 12)"
                        f" ELSE 0.0 END"
                    )
        return " + ".join(terms)

    cells = []
    for dst, src in (("y", "x"), ("x", "y")):
        for dn in (0, 1):
            for dp in (0, 1):
                for sp in (0, 1):
                    cells.append(
                        f"SUM(CASE WHEN {dst}n = {dn} AND {dst}p = {dp}"
                        f" AND {src}p = {sp} THEN 1 ELSE 0 END)"
                        f" AS c_{dst}{dn}{dp}{sp}_{src}"
                    )
    cells_sql = ",\n             ".join(cells)
    return f"""
    WITH daily AS (
      SELECT o_orderdate AS d,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT) AS y,
             COUNT(*) AS x
      FROM orders GROUP BY 1
    ),
    meds AS (SELECT median(y) AS my, median(x) AS mx FROM daily),
    bin AS (
      SELECT row_number() OVER (ORDER BY d) AS i,
             CASE WHEN y > my THEN 1 ELSE 0 END AS yb,
             CASE WHEN x > mx THEN 1 ELSE 0 END AS xb
      FROM daily, meds
    ),
    tri AS (
      SELECT b.yb AS yn, a.yb AS yp, a.xb AS xp,
             b.xb AS xn
      FROM bin a JOIN bin b ON b.i = a.i + 1
    ),
    cube3 AS (
      SELECT COUNT(*) AS nn,
             {cells_sql}
      FROM tri
    )
    SELECT CAST(nn AS BIGINT) AS n_transitions,
           round({te("x", "y")}, 6) AS te_x_to_y,
           round({te("y", "x")}, 6) AS te_y_to_x
    FROM cube3
    """


@_q("transfer_entropy_directional", _te_sql())
def q_transfer_entropy_directional(spark: SparkSession, sf_dir: str) -> DataFrame:
    daily = (
        t(spark, sf_dir, "orders")
        .groupBy(F.col("o_orderdate").alias("d"))
        .agg(
            (F.sum(F.col("o_totalprice").cast("decimal(18,2)")) * 100)
            .cast("bigint")
            .alias("y"),
            F.count(F.lit(1)).alias("x"),
        )
    )
    meds = daily.agg(F.median("y").alias("my"), F.median("x").alias("mx"))
    binned = daily.crossJoin(F.broadcast(meds)).select(
        F.row_number().over(Window.orderBy("d")).alias("i"),
        F.when(F.col("y") > F.col("my"), 1).otherwise(0).alias("yb"),
        F.when(F.col("x") > F.col("mx"), 1).otherwise(0).alias("xb"),
    ).localCheckpoint(eager=True)  # after the window: plan stays auditable
    a = binned.select(
        F.col("i").alias("ia"), F.col("yb").alias("yp"), F.col("xb").alias("xp")
    )
    b = binned.select(
        (F.col("i") - 1).alias("ia"),
        F.col("yb").alias("yn"),
        F.col("xb").alias("xn"),
    )
    tri = a.join(b, "ia")
    aggs = [F.count(F.lit(1)).alias("nn")]
    for dst, src in (("y", "x"), ("x", "y")):
        for dn in (0, 1):
            for dp in (0, 1):
                for sp in (0, 1):
                    aggs.append(
                        F.sum(
                            F.when(
                                (F.col(f"{dst}n") == dn)
                                & (F.col(f"{dst}p") == dp)
                                & (F.col(f"{src}p") == sp),
                                1,
                            ).otherwise(0)
                        ).alias(f"c_{dst}{dn}{dp}{sp}_{src}")
                    )
    cube3 = tri.agg(*aggs)

    def te(src: str, dst: str):
        total = None
        for dn in (0, 1):
            for dp in (0, 1):
                for sp in (0, 1):
                    c3 = F.col(f"c_{dst}{dn}{dp}{sp}_{src}")
                    c2a = F.col(f"c_{dst}0{dp}{sp}_{src}") + F.col(
                        f"c_{dst}1{dp}{sp}_{src}"
                    )
                    c2b = F.col(f"c_{dst}{dn}{dp}0_{src}") + F.col(
                        f"c_{dst}{dn}{dp}1_{src}"
                    )
                    c1 = (
                        F.col(f"c_{dst}0{dp}0_{src}")
                        + F.col(f"c_{dst}0{dp}1_{src}")
                        + F.col(f"c_{dst}1{dp}0_{src}")
                        + F.col(f"c_{dst}1{dp}1_{src}")
                    )
                    term = F.when(
                        c3 > 0,
                        F.round(
                            c3.cast("double")
                            / F.col("nn")
                            * F.log2(
                                c3.cast("double") * c1 / (c2a.cast("double") * c2b)
                            ),
                            12,
                        ),
                    ).otherwise(F.lit(0.0))
                    total = term if total is None else total + term
        return total

    return cube3.select(
        F.col("nn").cast("bigint").alias("n_transitions"),
        F.round(te("x", "y"), 6).alias("te_x_to_y"),
        F.round(te("y", "x"), 6).alias("te_y_to_x"),
    )


# ---------------------------------------------------------------------------
# Yule-Walker AR(2) fit of the daily revenue series. Mean is cleared
# exactly by the n-scaling u_t = n*y_t - S (integer), autocovariance
# sums stay exact DECIMAL(38,0) (|u| <= ~2.4e11, u^2*spine ~ 1e26),
# and the 2x2 system solves in one fixed float expression — the common
# n^2 scaling cancels in the ratios.
@_q(
    "yule_walker_ar2",
    f"""
    WITH daily AS ({_SQL_DAILY}),
    mom AS (SELECT COUNT(*) AS n, SUM(CAST(y AS DECIMAL(38,0))) AS s FROM daily),
    u AS (
      SELECT row_number() OVER (ORDER BY d) AS i,
             CAST(n AS DECIMAL(38,0)) * y - s AS u
      FROM daily, mom
    ),
    cov AS (
      SELECT CAST(SUM(a.u * a.u) AS DOUBLE) AS c0,
             CAST(SUM(CASE WHEN b1.i IS NOT NULL THEN a.u * b1.u END) AS DOUBLE)
               AS c1,
             CAST(SUM(CASE WHEN b2.i IS NOT NULL THEN a.u * b2.u END) AS DOUBLE)
               AS c2
      FROM u a
      LEFT JOIN u b1 ON b1.i = a.i + 1
      LEFT JOIN u b2 ON b2.i = a.i + 2
    )
    SELECT (SELECT CAST(n AS BIGINT) FROM mom) AS n_days,
           round(c1 * (c0 - c2) / (c0 * c0 - c1 * c1), 9) AS phi1,
           round((c0 * c2 - c1 * c1) / (c0 * c0 - c1 * c1), 9) AS phi2
    FROM cov
    """,
)
def q_yule_walker_ar2(spark: SparkSession, sf_dir: str) -> DataFrame:
    daily = _daily_cents(spark, sf_dir)
    mom = daily.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("y").cast("decimal(38,0)")).alias("s"),
    )
    u = daily.crossJoin(F.broadcast(mom)).select(
        F.row_number().over(Window.orderBy("d")).alias("i"),
        (F.col("n").cast("decimal(38,0)") * F.col("y") - F.col("s")).alias("u"),
        "n",
    ).localCheckpoint(eager=True)  # after the window: plan stays auditable
    a = u.select(F.col("i").alias("ia"), F.col("u").alias("ua"), "n")
    b1 = u.select((F.col("i") - 1).alias("ia"), F.col("u").alias("ub1"))
    b2 = u.select((F.col("i") - 2).alias("ia"), F.col("u").alias("ub2"))
    cov = (
        a.join(b1, "ia", "left")
        .join(b2, "ia", "left")
        .agg(
            F.sum(F.col("ua") * F.col("ua")).cast("double").alias("c0"),
            F.sum(
                F.when(F.col("ub1").isNotNull(), F.col("ua") * F.col("ub1"))
            )
            .cast("double")
            .alias("c1"),
            F.sum(
                F.when(F.col("ub2").isNotNull(), F.col("ua") * F.col("ub2"))
            )
            .cast("double")
            .alias("c2"),
            F.any_value("n").alias("n"),
        )
    )
    den = F.col("c0") * F.col("c0") - F.col("c1") * F.col("c1")
    return cov.select(
        F.col("n").cast("bigint").alias("n_days"),
        F.round(F.col("c1") * (F.col("c0") - F.col("c2")) / den, 9).alias("phi1"),
        F.round(
            (F.col("c0") * F.col("c2") - F.col("c1") * F.col("c1")) / den, 9
        ).alias("phi2"),
    )


# ---------------------------------------------------------------------------
# Anderson-Darling goodness-of-fit test for EXPONENTIALITY of BUILDING
# order totals (the one classical EDF test whose reference CDF is
# SQL-exact: F(y) = 1 - exp(-y/mean)). 100 TB shape: the value stream
# reduces to per-DISTINCT-value counts first (the KS pattern — the
# window runs over |distinct cents values|, never |rows|); a tie group
# spanning cumulative ranks (a, b] contributes closed-form rank sums
# sum(2i-1) = b^2 - a^2 and sum(2(n-i+1)-1) = (n-a)^2 - (n-b)^2, so
# each distinct value yields ONE term, rounded to 12dp and summed as
# scale-preserving DECIMAL(38,12) — order-free.
@_q(
    "anderson_darling_exponential",
    """
    WITH vals AS (
      SELECT CAST(CAST(o.o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS y
      FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
      WHERE c.c_mktsegment = 'BUILDING'
    ),
    per_v AS (SELECT y, COUNT(*) AS c FROM vals GROUP BY y),
    cum AS (
      SELECT y,
             SUM(c) OVER (ORDER BY y) AS b,
             SUM(c) OVER (ORDER BY y) - c AS a
      FROM per_v
    ),
    mom AS (SELECT COUNT(*) AS n,
                   CAST(SUM(CAST(y AS DECIMAL(38,0))) AS DOUBLE) / COUNT(*)
                     AS mean_y
            FROM vals),
    terms AS (
      SELECT CAST(round((CAST(b AS DOUBLE) * b - CAST(a AS DOUBLE) * a)
                        * ln(1 - exp(-(CAST(y AS DOUBLE)/mean_y)))
                        + (CAST(n - a AS DOUBLE) * (n - a)
                           - CAST(n - b AS DOUBLE) * (n - b))
                          * (-(CAST(y AS DOUBLE)/mean_y)), 12)
                  AS DECIMAL(38,12)) AS t1
      FROM cum, mom
    )
    SELECT (SELECT CAST(n AS BIGINT) FROM mom) AS n_orders,
           round(-(SELECT CAST(n AS DOUBLE) FROM mom)
                 - CAST(SUM(t1) AS DOUBLE)
                   / (SELECT n FROM mom), 6) AS a2_statistic
    FROM terms
    """,
)
def q_anderson_darling_exponential(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    orders = t(spark, sf_dir, "orders")
    cust = t(spark, sf_dir, "customer").where(
        F.col("c_mktsegment") == "BUILDING"
    )
    vals = orders.join(
        cust, orders.o_custkey == cust.c_custkey
    ).select(
        (F.col("o_totalprice").cast("decimal(18,2)") * 100)
        .cast("bigint")
        .alias("y"),
    )
    per_v = vals.groupBy("y").agg(F.count(F.lit(1)).alias("c"))
    w = Window.orderBy("y")
    cum = per_v.select(
        "y",
        F.sum("c").over(w).alias("b"),
        (F.sum("c").over(w) - F.col("c")).alias("a"),
    )
    mom = vals.agg(
        F.count(F.lit(1)).alias("n"),
        (
            F.sum(F.col("y").cast("decimal(38,0)")).cast("double")
            / F.count(F.lit(1))
        ).alias("mean_y"),
    )
    yd = F.col("y").cast("double")
    terms = cum.crossJoin(F.broadcast(mom)).select(
        "n",
        F.round(
            (F.col("b").cast("double") * F.col("b")
             - F.col("a").cast("double") * F.col("a"))
            * F.log(1 - F.exp(-(yd / F.col("mean_y"))))
            + (
                (F.col("n") - F.col("a")).cast("double") * (F.col("n") - F.col("a"))
                - (F.col("n") - F.col("b")).cast("double")
                * (F.col("n") - F.col("b"))
            )
            * (-(yd / F.col("mean_y"))),
            12,
        )
        .cast("decimal(38,12)")
        .alias("t1"),
    )
    return terms.agg(
        F.any_value("n").cast("bigint").alias("n_orders"),
        F.round(
            -F.any_value("n").cast("double")
            - F.sum("t1").cast("double") / F.any_value("n"),
            6,
        ).alias("a2_statistic"),
    )


# ---------------------------------------------------------------------------
# Grubbs' outlier statistic per order priority: G = max|y - mean| / sd,
# with max|n*y - S| exact on the integer lattice and the sample sd from
# exact moments — one closed-form float expression per group.
@_q(
    "grubbs_outlier_stat",
    """
    WITH vals AS (
      SELECT o_orderpriority AS prio,
             CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS y
      FROM orders
    ),
    mom AS (
      SELECT prio, COUNT(*) AS n,
             SUM(CAST(y AS DECIMAL(38,0))) AS s,
             SUM(CAST(y AS DECIMAL(19,0)) * CAST(y AS DECIMAL(19,0))) AS s2
      FROM vals GROUP BY prio
    ),
    dev AS (
      SELECT v.prio,
             MAX(abs(CAST(m.n AS DECIMAL(38,0)) * v.y - m.s)) AS maxu
      FROM vals v JOIN mom m ON v.prio = m.prio
      GROUP BY v.prio
    )
    SELECT m.prio,
           CAST(m.n AS BIGINT) AS n,
           round(CAST(d.maxu AS DOUBLE)
                 / (CAST(m.n AS DOUBLE)
                    * sqrt((CAST(m.n AS DOUBLE) * CAST(m.s2 AS DOUBLE)
                            - CAST(m.s AS DOUBLE) * CAST(m.s AS DOUBLE))
                           / (CAST(m.n AS DOUBLE) * (m.n - 1)))), 9)
             AS g_statistic
    FROM mom m JOIN dev d ON m.prio = d.prio
    ORDER BY m.prio
    """,
)
def q_grubbs_outlier_stat(spark: SparkSession, sf_dir: str) -> DataFrame:
    vals = t(spark, sf_dir, "orders").select(
        F.col("o_orderpriority").alias("prio"),
        (F.col("o_totalprice").cast("decimal(18,2)") * 100)
        .cast("bigint")
        .alias("y"),
    )
    mom = vals.groupBy("prio").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("y").cast("decimal(38,0)")).alias("s"),
        F.sum(
            F.col("y").cast("decimal(38,0)") * F.col("y").cast("decimal(38,0)")
        ).alias("s2"),
    )
    dev = (
        vals.join(mom, "prio")
        .groupBy("prio")
        .agg(
            F.max(
                F.abs(F.col("n").cast("decimal(38,0)") * F.col("y") - F.col("s"))
            ).alias("maxu")
        )
    )
    nd = F.col("n").cast("double")
    return (
        mom.join(dev, "prio")
        .select(
            "prio",
            F.col("n").cast("bigint").alias("n"),
            F.round(
                F.col("maxu").cast("double")
                / (
                    nd
                    * F.sqrt(
                        (
                            nd * F.col("s2").cast("double")
                            - F.col("s").cast("double")
                            * F.col("s").cast("double")
                        )
                        / (nd * (F.col("n") - 1))
                    )
                ),
                9,
            ).alias("g_statistic"),
        )
        .orderBy("prio")
    )


# ---------------------------------------------------------------------------
# Wald-Wolfowitz runs test for randomness of daily revenue up/down
# moves. Runs, n+, n- are exact integers off one lag window on the
# bounded spine; z is one closed-form float expression.
@_q(
    "runs_test_wald_wolfowitz",
    f"""
    WITH daily AS ({_SQL_DAILY}),
    moves AS (
      SELECT CASE WHEN y > lag(y) OVER (ORDER BY d) THEN 1
                  WHEN y < lag(y) OVER (ORDER BY d) THEN -1 END AS s
      FROM daily
    ),
    signs AS (
      SELECT s, row_number() OVER () AS rn FROM moves WHERE s IS NOT NULL
    ),
    seq AS (
      SELECT s, lag(s) OVER (ORDER BY rn) AS sp FROM signs
    ),
    agg AS (
      SELECT SUM(CASE WHEN sp IS NULL OR s <> sp THEN 1 ELSE 0 END) AS r,
             SUM(CASE WHEN s = 1 THEN 1 ELSE 0 END) AS n1,
             SUM(CASE WHEN s = -1 THEN 1 ELSE 0 END) AS n2
      FROM seq
    )
    SELECT CAST(r AS BIGINT) AS runs,
           CAST(n1 AS BIGINT) AS n_up, CAST(n2 AS BIGINT) AS n_down,
           round((r - (2.0 * n1 * n2 / (n1 + n2) + 1))
                 / sqrt(2.0 * n1 * n2 * (2.0 * n1 * n2 - n1 - n2)
                        / (CAST((n1 + n2) AS DOUBLE) * (n1 + n2)
                           * (n1 + n2 - 1))), 9) AS z_score
    FROM agg
    """,
)
def q_runs_test_wald_wolfowitz(spark: SparkSession, sf_dir: str) -> DataFrame:
    daily = _daily_cents(spark, sf_dir)
    w = Window.orderBy("d")
    moves = daily.select(
        F.when(F.col("y") > F.lag("y").over(w), 1)
        .when(F.col("y") < F.lag("y").over(w), -1)
        .alias("s"),
        F.col("d"),
    ).where(F.col("s").isNotNull())
    seq = moves.select("s", F.lag("s").over(Window.orderBy("d")).alias("sp"))
    agg = seq.agg(
        F.sum(
            F.when(F.col("sp").isNull() | (F.col("s") != F.col("sp")), 1).otherwise(
                0
            )
        ).alias("r"),
        F.sum(F.when(F.col("s") == 1, 1).otherwise(0)).alias("n1"),
        F.sum(F.when(F.col("s") == -1, 1).otherwise(0)).alias("n2"),
    )
    n1, n2, r = F.col("n1"), F.col("n2"), F.col("r")
    mu = 2.0 * n1 * n2 / (n1 + n2) + 1
    var = (
        2.0
        * n1
        * n2
        * (2.0 * n1 * n2 - n1 - n2)
        / ((n1 + n2).cast("double") * (n1 + n2) * (n1 + n2 - 1))
    )
    return agg.select(
        r.cast("bigint").alias("runs"),
        n1.cast("bigint").alias("n_up"),
        n2.cast("bigint").alias("n_down"),
        F.round((r - mu) / F.sqrt(var), 9).alias("z_score"),
    )


# ---------------------------------------------------------------------------
# Chow structural-break F-test of the daily revenue-on-time regression
# at the calendar midpoint. All regression moments are exact integers
# (t <= 2400, y in cents); each segment's SSR is one closed-form float
# expression from those moments.
def _chow_sql() -> str:
    def ssr(tag: str) -> str:
        return (
            f"(CAST(syy{tag} AS DOUBLE)"
            f" - CAST(sy{tag} AS DOUBLE) * sy{tag} / n{tag}"
            f" - (CAST(sxy{tag} AS DOUBLE) - CAST(sx{tag} AS DOUBLE) * sy{tag} / n{tag})"
            f" * (CAST(sxy{tag} AS DOUBLE) - CAST(sx{tag} AS DOUBLE) * sy{tag} / n{tag})"
            f" / (CAST(sxx{tag} AS DOUBLE) - CAST(sx{tag} AS DOUBLE) * sx{tag} / n{tag}))"
        )

    def moments(tag: str, cond: str) -> str:
        return f"""
             SUM(CASE WHEN {cond} THEN 1 ELSE 0 END) AS n{tag},
             SUM(CASE WHEN {cond} THEN i ELSE 0 END) AS sx{tag},
             SUM(CASE WHEN {cond} THEN CAST(i AS DECIMAL(38,0)) * i ELSE 0 END) AS sxx{tag},
             SUM(CASE WHEN {cond} THEN CAST(y AS DECIMAL(38,0)) ELSE 0 END) AS sy{tag},
             SUM(CASE WHEN {cond} THEN CAST(y AS DECIMAL(19,0)) * CAST(y AS DECIMAL(19,0)) ELSE 0 END) AS syy{tag},
             SUM(CASE WHEN {cond} THEN CAST(i AS DECIMAL(38,0)) * y ELSE 0 END) AS sxy{tag}"""

    return f"""
    WITH daily AS ({_SQL_DAILY}),
    idx AS (
      SELECT row_number() OVER (ORDER BY d) AS i, y,
             COUNT(*) OVER () AS n
      FROM daily
    ),
    mom AS (
      SELECT {moments('p', 'TRUE')},
             {moments('1', 'i <= n // 2')},
             {moments('2', 'i > n // 2')}
      FROM idx
    )
    SELECT CAST(np AS BIGINT) AS n_days,
           round((({ssr('p')} - {ssr('1')} - {ssr('2')}) / 2.0)
                 / (({ssr('1')} + {ssr('2')}) / (np - 4.0)), 6)
             AS chow_f
    FROM mom
    """


@_q("chow_structural_break", _chow_sql())
def q_chow_structural_break(spark: SparkSession, sf_dir: str) -> DataFrame:
    daily = _daily_cents(spark, sf_dir)
    idx = daily.select(
        F.row_number().over(Window.orderBy("d")).alias("i"), "y"
    ).withColumn("n", F.count(F.lit(1)).over(Window.partitionBy()))

    def moments(tag: str, cond):
        dec = "decimal(38,0)"
        return [
            F.sum(F.when(cond, 1).otherwise(0)).alias(f"n{tag}"),
            F.sum(F.when(cond, F.col("i")).otherwise(0)).alias(f"sx{tag}"),
            F.sum(
                F.when(cond, F.col("i").cast(dec) * F.col("i")).otherwise(
                    F.lit(0).cast(dec)
                )
            ).alias(f"sxx{tag}"),
            F.sum(
                F.when(cond, F.col("y").cast(dec)).otherwise(F.lit(0).cast(dec))
            ).alias(f"sy{tag}"),
            F.sum(
                F.when(cond, F.col("y").cast(dec) * F.col("y").cast(dec)).otherwise(
                    F.lit(0).cast(dec)
                )
            ).alias(f"syy{tag}"),
            F.sum(
                F.when(cond, F.col("i").cast(dec) * F.col("y")).otherwise(
                    F.lit(0).cast(dec)
                )
            ).alias(f"sxy{tag}"),
        ]

    half = F.col("i") <= F.floor(F.col("n") / 2)
    mom = idx.agg(
        *moments("p", F.lit(True)), *moments("1", half), *moments("2", ~half)
    )

    def ssr(tag: str):
        n = F.col(f"n{tag}")
        sx = F.col(f"sx{tag}").cast("double")
        sy = F.col(f"sy{tag}").cast("double")
        sxx = F.col(f"sxx{tag}").cast("double")
        syy = F.col(f"syy{tag}").cast("double")
        sxy = F.col(f"sxy{tag}").cast("double")
        cxy = sxy - sx * sy / n
        cxx = sxx - sx * sx / n
        return syy - sy * sy / n - cxy * cxy / cxx

    return mom.select(
        F.col("np").cast("bigint").alias("n_days"),
        F.round(
            ((ssr("p") - ssr("1") - ssr("2")) / F.lit(2.0))
            / ((ssr("1") + ssr("2")) / (F.col("np") - F.lit(4.0))),
            6,
        ).alias("chow_f"),
    )


# ---------------------------------------------------------------------------
# Engle-Granger two-step cointegration between daily order count and
# daily revenue: exact-moment OLS -> residuals rounded to a 6dp
# lattice -> no-intercept Dickey-Fuller regression on the lattice with
# scale-preserving decimal sums -> closed-form t statistic.
@_q(
    "engle_granger_cointegration",
    """
    WITH daily AS (
      SELECT o_orderdate AS d,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT) AS y,
             COUNT(*) AS x
      FROM orders GROUP BY 1
    ),
    mom AS (
      SELECT COUNT(*) AS n, SUM(x) AS sx, SUM(CAST(y AS DECIMAL(38,0))) AS sy,
             SUM(CAST(x AS DECIMAL(38,0)) * x) AS sxx,
             SUM(CAST(x AS DECIMAL(38,0)) * y) AS sxy
      FROM daily
    ),
    fit AS (
      SELECT n,
             (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
              - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
             / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) AS b
      FROM mom
    ),
    resid AS (
      SELECT row_number() OVER (ORDER BY d) AS i,
             CAST(round(y - b - ((SELECT CAST(sy AS DOUBLE) FROM mom)
                                 - b * (SELECT CAST(sx AS DOUBLE) FROM mom))
                            / (SELECT n FROM mom)
                        + b - b * x, 6) AS DECIMAL(28,6)) AS e
      FROM daily, fit
    ),
    pairs AS (
      SELECT a.e AS ep, b.e - a.e AS de
      FROM resid a JOIN resid b ON b.i = a.i + 1
    ),
    sums AS (
      SELECT COUNT(*) AS m,
             CAST(SUM(CAST(ep AS DECIMAL(38,12)) * ep) AS DOUBLE) AS see,
             CAST(SUM(CAST(ep AS DECIMAL(38,12)) * de) AS DOUBLE) AS sed,
             CAST(SUM(CAST(de AS DECIMAL(38,12)) * de) AS DOUBLE) AS sdd
      FROM pairs
    )
    SELECT (SELECT CAST(n AS BIGINT) FROM mom) AS n_days,
           round((SELECT b FROM fit), 9) AS beta,
           round(sed / see, 9) AS gamma,
           round((sed / see)
                 / sqrt(((sdd - sed * sed / see) / (m - 1)) / see), 6)
             AS df_t_statistic
    FROM sums
    """,
)
def q_engle_granger_cointegration(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    daily = (
        t(spark, sf_dir, "orders")
        .groupBy(F.col("o_orderdate").alias("d"))
        .agg(
            (F.sum(F.col("o_totalprice").cast("decimal(18,2)")) * 100)
            .cast("bigint")
            .alias("y"),
            F.count(F.lit(1)).alias("x"),
        )
    )
    dec = "decimal(38,0)"
    mom = daily.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum(F.col("y").cast(dec)).alias("sy"),
        F.sum(F.col("x").cast(dec) * F.col("x")).alias("sxx"),
        F.sum(F.col("x").cast(dec) * F.col("y")).alias("sxy"),
    )
    fit = mom.select(
        "n",
        "sx",
        "sy",
        (
            (
                F.col("n").cast("double") * F.col("sxy").cast("double")
                - F.col("sx").cast("double") * F.col("sy").cast("double")
            )
            / (
                F.col("n").cast("double") * F.col("sxx").cast("double")
                - F.col("sx").cast("double") * F.col("sx").cast("double")
            )
        ).alias("b"),
    )
    resid = daily.crossJoin(F.broadcast(fit)).select(
        F.row_number().over(Window.orderBy("d")).alias("i"),
        F.round(
            F.col("y")
            - F.col("b")
            - (
                F.col("sy").cast("double") - F.col("b") * F.col("sx").cast("double")
            )
            / F.col("n")
            + F.col("b")
            - F.col("b") * F.col("x"),
            6,
        )
        .cast("decimal(28,6)")
        .alias("e"),
        "n",
        "b",
    ).localCheckpoint(eager=True)  # after the window: plan stays auditable
    a = resid.select(
        F.col("i").alias("ia"), F.col("e").alias("ep"), "n", "b"
    )
    b2 = resid.select((F.col("i") - 1).alias("ia"), F.col("e").alias("en"))
    pairs = a.join(b2, "ia").select(
        "ep", (F.col("en") - F.col("ep")).alias("de"), "n", "b"
    )
    sums = pairs.agg(
        F.count(F.lit(1)).alias("m"),
        F.sum(F.col("ep").cast("decimal(38,12)") * F.col("ep"))
        .cast("double")
        .alias("see"),
        F.sum(F.col("ep").cast("decimal(38,12)") * F.col("de"))
        .cast("double")
        .alias("sed"),
        F.sum(F.col("de").cast("decimal(38,12)") * F.col("de"))
        .cast("double")
        .alias("sdd"),
        F.any_value("n").alias("n"),
        F.any_value("b").alias("b"),
    )
    gamma = F.col("sed") / F.col("see")
    return sums.select(
        F.col("n").cast("bigint").alias("n_days"),
        F.round(F.col("b"), 9).alias("beta"),
        F.round(gamma, 9).alias("gamma"),
        F.round(
            gamma
            / F.sqrt(
                (
                    (F.col("sdd") - F.col("sed") * F.col("sed") / F.col("see"))
                    / (F.col("m") - 1)
                )
                / F.col("see")
            ),
            6,
        ).alias("df_t_statistic"),
    )


# ---------------------------------------------------------------------------
# Quantile-shape moments per priority: Bowley (quartile) skewness and
# Moors (octile) kurtosis. Exact interpolating percentiles over the
# integer cents lattice — Spark `percentile` and DuckDB quantile_cont
# share the (n-1)p rank definition, and interpolation between two
# cents values is exact in double.
def _rqm_sql() -> str:
    qs = {
        "q1": 0.125, "q2": 0.25, "q3": 0.375, "q5": 0.625,
        "q6": 0.75, "q7": 0.875, "med": 0.5,
    }
    qcols = ",\n             ".join(
        f"quantile_cont(y, {p}) AS {c}" for c, p in qs.items()
    )
    return f"""
    WITH vals AS (
      SELECT o_orderpriority AS prio,
             CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS y
      FROM orders
    ),
    q AS (
      SELECT prio,
             {qcols}
      FROM vals GROUP BY prio
    )
    SELECT prio,
           round((q6 + q2 - 2 * med) / (q6 - q2), 9) AS bowley_skewness,
           round(((q7 - q5) + (q3 - q1)) / (q6 - q2), 9) AS moors_kurtosis
    FROM q ORDER BY prio
    """


@_q("robust_quantile_moments", _rqm_sql())
def q_robust_quantile_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    vals = t(spark, sf_dir, "orders").select(
        F.col("o_orderpriority").alias("prio"),
        (F.col("o_totalprice").cast("decimal(18,2)") * 100)
        .cast("bigint")
        .alias("y"),
    )
    q = vals.groupBy("prio").agg(
        *[
            F.percentile("y", F.lit(p)).alias(c)
            for c, p in [
                ("q1", 0.125), ("q2", 0.25), ("q3", 0.375), ("q5", 0.625),
                ("q6", 0.75), ("q7", 0.875), ("med", 0.5),
            ]
        ]
    )
    return q.select(
        "prio",
        F.round(
            (F.col("q6") + F.col("q2") - 2 * F.col("med"))
            / (F.col("q6") - F.col("q2")),
            9,
        ).alias("bowley_skewness"),
        F.round(
            ((F.col("q7") - F.col("q5")) + (F.col("q3") - F.col("q1")))
            / (F.col("q6") - F.col("q2")),
            9,
        ).alias("moors_kurtosis"),
    ).orderBy("prio")


# ---------------------------------------------------------------------------
# Modified z-score outlier days (Iglewicz-Hoaglin): 0.6745*(y-med)/MAD
# over the bounded day spine; median and MAD land on the half-cent
# lattice (exact), the z is one float expression per day.
@_q(
    "modified_zscore_outlier_days",
    f"""
    WITH daily AS ({_SQL_DAILY}),
    med AS (SELECT CAST(round(2 * median(y)) AS BIGINT) AS med2 FROM daily),
    dev AS (
      SELECT d, y, abs(2 * y - med2) AS ad2 FROM daily, med
    ),
    madx AS (SELECT CAST(round(median(ad2)) AS BIGINT) AS mad2 FROM dev)
    SELECT d AS dte, y AS revenue_cents,
           round(0.6745 * (2.0 * y - (SELECT med2 FROM med))
                 / (SELECT mad2 FROM madx), 6) AS modified_z
    FROM dev
    WHERE abs(0.6745 * (2.0 * y - (SELECT med2 FROM med))
              / (SELECT mad2 FROM madx)) > 3.5
    ORDER BY dte
    """,
)
def q_modified_zscore_outlier_days(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    daily = _daily_cents(spark, sf_dir).localCheckpoint(eager=True)
    med = daily.agg(F.round(2 * F.median("y")).cast("bigint").alias("med2"))
    dev = daily.crossJoin(F.broadcast(med)).select(
        "d", "y", "med2", F.abs(2 * F.col("y") - F.col("med2")).alias("ad2")
    )
    madx = dev.agg(F.round(F.median("ad2")).cast("bigint").alias("mad2"))
    z = F.lit(0.6745) * (2.0 * F.col("y") - F.col("med2")) / F.col("mad2")
    return (
        dev.crossJoin(F.broadcast(madx))
        .select(
            F.col("d").alias("dte"),
            F.col("y").alias("revenue_cents"),
            F.round(z, 6).alias("modified_z"),
        )
        .where(F.abs(z) > 3.5)
        .orderBy("dte")
    )


# ---------------------------------------------------------------------------
# STL-lite seasonal-strength decomposition on the day spine: trend =
# centered MA(7), computed on the 7-SCALED integer lattice (detr7 =
# 7*y - window_sum stays an exact BIGINT on interior days), weekday
# seasonal means subtract as one exact-rounded division each, and the
# two variances reduce via exact integer moments (detrended) and
# 12dp-rounded scale-preserving decimal sums (remainder).
# FS = max(0, 1 - Var(R)/Var(S+R)) is the textbook seasonal strength.
@_q(
    "seasonal_strength_stl_lite",
    f"""
    WITH daily AS ({_SQL_DAILY}),
    win AS (
      SELECT d, isodow(d) - 1 AS wd,
             7 * y - SUM(y) OVER (ORDER BY d ROWS BETWEEN 3 PRECEDING
                                  AND 3 FOLLOWING) AS detr7,
             COUNT(*) OVER (ORDER BY d ROWS BETWEEN 3 PRECEDING
                            AND 3 FOLLOWING) AS wn
      FROM daily
    ),
    interior AS (SELECT d, wd, detr7 FROM win WHERE wn = 7),
    by_wd AS (
      SELECT wd, COUNT(*) AS nw,
             SUM(CAST(detr7 AS DECIMAL(38,0))) AS sw
      FROM interior GROUP BY wd
    ),
    piv AS (
      SELECT {", ".join(
        f"SUM(CASE WHEN wd = {w} THEN CAST(CAST(sw AS DECIMAL(19,0))"
        f" * CAST(sw AS DECIMAL(19,0)) AS DOUBLE) / nw ELSE 0 END) AS t{w}"
        for w in range(7))}
      FROM by_wd
    ),
    mom AS (
      SELECT COUNT(*) AS n,
             CAST(SUM(CAST(detr7 AS DECIMAL(38,0))) AS DOUBLE) AS sd,
             CAST(SUM(CAST(detr7 AS DECIMAL(19,0))
                      * CAST(detr7 AS DECIMAL(19,0))) AS DOUBLE) AS sd2
      FROM interior
    )
    SELECT CAST(n AS BIGINT) AS n_interior_days,
           (sd2 - sd * sd / n) / n AS var_detrended,
           (sd2 - (t0 + t1 + t2 + t3 + t4 + t5 + t6)) / n AS var_remainder,
           round(greatest(0.0, 1.0 - ((sd2 - (t0 + t1 + t2 + t3 + t4 + t5 + t6)) / n)
                                 / ((sd2 - sd * sd / n) / n)), 9)
             AS seasonal_strength
    FROM mom, piv
    """,
)
def q_seasonal_strength_stl_lite(spark: SparkSession, sf_dir: str) -> DataFrame:
    daily = _daily_cents(spark, sf_dir)
    w7 = Window.orderBy("d").rowsBetween(-3, 3)
    win = daily.select(
        "d",
        (F.expr("weekday(d)")).alias("wd"),
        (7 * F.col("y") - F.sum("y").over(w7)).alias("detr7"),
        F.count(F.lit(1)).over(w7).alias("wn"),
    )
    interior = win.where(F.col("wn") == 7).select("d", "wd", "detr7")
    interior = interior.localCheckpoint(eager=True)
    by_wd = interior.groupBy("wd").agg(
        F.count(F.lit(1)).alias("nw"),
        F.sum(F.col("detr7").cast("decimal(38,0)")).alias("sw"),
    )
    piv = by_wd.agg(
        *[
            F.sum(
                F.when(
                    F.col("wd") == w,
                    (
                        F.col("sw").cast("decimal(19,0)")
                        * F.col("sw").cast("decimal(19,0)")
                    ).cast("double")
                    / F.col("nw"),
                ).otherwise(0.0)
            ).alias(f"t{w}")
            for w in range(7)
        ]
    )
    mom = interior.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("detr7").cast("decimal(38,0)")).cast("double").alias("sd"),
        F.sum(
            F.col("detr7").cast("decimal(19,0)")
            * F.col("detr7").cast("decimal(19,0)")
        )
        .cast("double")
        .alias("sd2"),
    )
    n = F.col("n")
    tsum = None
    for w in range(7):
        tsum = F.col(f"t{w}") if tsum is None else tsum + F.col(f"t{w}")
    var_d = (F.col("sd2") - F.col("sd") * F.col("sd") / n) / n
    var_r = (F.col("sd2") - tsum) / n
    return mom.crossJoin(piv).select(
        n.cast("bigint").alias("n_interior_days"),
        var_d.alias("var_detrended"),
        var_r.alias("var_remainder"),
        F.round(F.greatest(F.lit(0.0), 1.0 - var_r / var_d), 9).alias(
            "seasonal_strength"
        ),
    )


# ---------------------------------------------------------------------------
# Matrix-profile motif discovery on the day spine (window m=7):
# correlation-based distance d^2 = 2m(1-r) where r's cross-moments are
# EXACT integer window sums (cents), so every pairwise distance is one
# closed-form float expression — no running z-normalization drift.
# O(spine^2) pairs with an exclusion zone |i-j| >= m; top-5 motif
# pairs by (distance, i, j). 100 TB: the spine is bounded, and the
# window vectors reduce to 3 integer moments + a 7-int array BEFORE
# the self-join.
_MP_M = 7


def _sql_matrix_profile() -> str:
    m = _MP_M
    return f"""
    WITH daily AS ({_SQL_DAILY}),
    idx AS (SELECT row_number() OVER (ORDER BY d) AS i, y FROM daily),
    nn AS (SELECT COUNT(*) AS n FROM idx),
    win AS (
      SELECT a.i,
             SUM(b.y) AS s1,
             SUM(CAST(b.y AS DECIMAL(38,0)) * b.y) AS s2,
             array_agg(b.y ORDER BY b.i) AS v
      FROM idx a JOIN idx b ON b.i BETWEEN a.i AND a.i + {m} - 1
      WHERE a.i + {m} - 1 <= (SELECT n FROM nn)
      GROUP BY a.i HAVING COUNT(*) = {m}
    ),
    pairs AS (
      SELECT a.i AS ia, b.i AS ib,
             CAST(a.s1 AS DOUBLE) AS sa, CAST(b.s1 AS DOUBLE) AS sb,
             CAST(a.s2 AS DOUBLE) AS qa, CAST(b.s2 AS DOUBLE) AS qb,
             CAST(list_reduce(list_transform(range(1, {m} + 1),
                    k -> CAST(a.v[k] AS DECIMAL(38,0)) * b.v[k]),
                    (x, y) -> x + y) AS DOUBLE) AS sab
      FROM win a JOIN win b ON b.i >= a.i + {m}
    ),
    dist AS (
      SELECT ia, ib,
             2.0 * {m} * (1.0 - ({m} * sab - sa * sb)
               / sqrt(({m} * qa - sa * sa) * ({m} * qb - sb * sb))) AS d2
      FROM pairs
    )
    SELECT ia AS motif_i, ib AS motif_j, round(d2, 6) AS dist_sq
    FROM dist
    ORDER BY round(d2, 6), ia, ib LIMIT 5
    """


@_q("matrix_profile_motif", _sql_matrix_profile())
def q_matrix_profile_motif(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark plan: LAG DECOMPOSITION of the pairwise dots. The dot for
    pair (i, i+L) is a 7-row window sum of the per-lag product series
    p_L(t) = y[t]*y[t+L] — one equi-join builds all product rows, one
    L-partitioned window sums them (pure codegen decimal columns; the
    array zip_with/fold form this replaced spent 3x the wall in
    per-row interpreted folds). The decimal values — hence the oracle
    results — are identical."""
    m = _MP_M
    daily = _daily_cents(spark, sf_dir)
    idx = daily.select(
        F.row_number().over(Window.orderBy("d")).alias("i"), "y"
    ).localCheckpoint(eager=True)  # after the window: plan stays auditable
    nn = idx.agg(F.count(F.lit(1)).alias("n"))
    wm = Window.orderBy("i").rowsBetween(0, m - 1)
    win = (
        idx.select(
            "i",
            F.sum("y").over(wm).alias("s1"),
            F.sum(F.col("y").cast("decimal(38,0)") * F.col("y"))
            .over(wm)
            .alias("s2"),
            F.count(F.lit(1)).over(wm).alias("wn"),
        )
        .where(F.col("wn") == m)
        .drop("wn")
        .localCheckpoint(eager=True)
    )
    d19 = "decimal(19,0)"
    lags = (
        spark.range(100_000)
        .select((F.col("id") + m).alias("lag"))
        .join(F.broadcast(nn), F.col("lag") <= F.col("n") - m)
        .select("lag")
    )
    # spread the product generation: idx exits a global-order window in
    # ONE partition, and crossJoin(broadcast) preserves it — without a
    # spread the full spine x lags row build (2.9M rows at sf0.1) runs
    # in a single task (stage census: 1.6 s serial). Hash-spreading by
    # t is result-identical; the lag window re-shuffles by lag anyway.
    a = idx.repartition(
        spark.sparkContext.defaultParallelism, "i"
    ).select(F.col("i").alias("t"), F.col("y").alias("ya"))
    b = idx.select(F.col("i").alias("i2"), F.col("y").alias("yb"))
    prod = (
        a.crossJoin(F.broadcast(lags))
        .withColumn("i2", F.col("t") + F.col("lag"))
        .join(b, "i2")
        .select(
            "lag", "t",
            (F.col("ya").cast(d19) * F.col("yb").cast(d19)).alias("p"),
        )
    )
    wl = Window.partitionBy("lag").orderBy("t").rowsBetween(0, m - 1)
    dots = (
        prod.select(
            "lag", "t",
            F.sum("p").over(wl).alias("sab_d"),
            F.count(F.lit(1)).over(wl).alias("pn"),
        )
        .where(F.col("pn") == m)
        .select(
            F.col("t").alias("ia"),
            (F.col("t") + F.col("lag")).alias("ib"),
            F.col("sab_d"),
        )
    )
    wa = win.select(
        F.col("i").alias("ia"), F.col("s1").alias("sa1"), F.col("s2").alias("sa2")
    )
    wb = win.select(
        F.col("i").alias("ib"), F.col("s1").alias("sb1"), F.col("s2").alias("sb2")
    )
    pairs = dots.join(F.broadcast(wa), "ia").join(F.broadcast(wb), "ib")
    sab = F.col("sab_d").cast("double")
    sa, sb = F.col("sa1").cast("double"), F.col("sb1").cast("double")
    qa, qb = F.col("sa2").cast("double"), F.col("sb2").cast("double")
    d2 = (
        2.0
        * m
        * (
            1.0
            - (m * sab - sa * sb)
            / F.sqrt((m * qa - sa * sa) * (m * qb - sb * sb))
        )
    )
    return (
        pairs.select(
            F.col("ia").cast("bigint").alias("motif_i"),
            F.col("ib").cast("bigint").alias("motif_j"),
            F.round(d2, 6).alias("dist_sq"),
        )
        .orderBy("dist_sq", "motif_i", "motif_j")
        .limit(5)
    )


# ---------------------------------------------------------------------------
# Theil's U2 forecast-quality ratio of the MA(7) forecast against the
# naive no-change forecast. The forecast numerator f = sum of the 7
# prior days stays an exact BIGINT; each relative-error term is
# rounded to 12dp and summed as scale-preserving decimals.
@_q(
    "theils_u2_forecast",
    f"""
    WITH daily AS ({_SQL_DAILY}),
    win AS (
      SELECT d, y,
             lag(y) OVER (ORDER BY d) AS yp,
             SUM(y) OVER (ORDER BY d ROWS BETWEEN 7 PRECEDING
                          AND 1 PRECEDING) AS f,
             COUNT(*) OVER (ORDER BY d ROWS BETWEEN 7 PRECEDING
                            AND 1 PRECEDING) AS fn
      FROM daily
    ),
    terms AS (
      SELECT CAST(round(((CAST(f AS DOUBLE) / 7 - y) / yp)
                        * ((CAST(f AS DOUBLE) / 7 - y) / yp), 12)
                  AS DECIMAL(38,12)) AS tm,
             CAST(round((CAST(y - yp AS DOUBLE) / yp)
                        * (CAST(y - yp AS DOUBLE) / yp), 12)
                  AS DECIMAL(38,12)) AS tn
      FROM win WHERE fn = 7 AND yp IS NOT NULL
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_forecasts,
           round(sqrt(CAST(SUM(tm) AS DOUBLE))
                 / sqrt(CAST(SUM(tn) AS DOUBLE)), 9) AS theils_u2
    FROM terms
    """,
)
def q_theils_u2_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    daily = _daily_cents(spark, sf_dir)
    w = Window.orderBy("d")
    w7 = Window.orderBy("d").rowsBetween(-7, -1)
    win = daily.select(
        "y",
        F.lag("y").over(w).alias("yp"),
        F.sum("y").over(w7).alias("f"),
        F.count(F.lit(1)).over(w7).alias("fn"),
    ).where((F.col("fn") == 7) & F.col("yp").isNotNull())
    em = (F.col("f").cast("double") / 7 - F.col("y")) / F.col("yp")
    en = (F.col("y") - F.col("yp")).cast("double") / F.col("yp")
    terms = win.select(
        F.round(em * em, 12).cast("decimal(38,12)").alias("tm"),
        F.round(en * en, 12).cast("decimal(38,12)").alias("tn"),
    )
    return terms.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_forecasts"),
        F.round(
            F.sqrt(F.sum("tm").cast("double"))
            / F.sqrt(F.sum("tn").cast("double")),
            9,
        ).alias("theils_u2"),
    )


# ---------------------------------------------------------------------------
# Kolmogorov-Zurbenko KZ(7,3) filter: three iterated centered MA(7)
# passes, kept EXACT by deferring all three /7 divisions — the triple
# window sum is an integer on the 343-scaled lattice; only full
# windows (interior days) are emitted. One window spec reused three
# times = three bounded passes over the spine.
@_q(
    "kz_filter_smoothing",
    f"""
    WITH daily AS ({_SQL_DAILY}),
    p1 AS (
      SELECT d, SUM(y) OVER w AS y1, COUNT(*) OVER w AS c1 FROM daily
      WINDOW w AS (ORDER BY d ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
    ),
    p1i AS (SELECT d, y1 FROM p1 WHERE c1 = 7),
    p2 AS (
      SELECT d, SUM(y1) OVER w AS y2, COUNT(*) OVER w AS c2 FROM p1i
      WINDOW w AS (ORDER BY d ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
    ),
    p2i AS (SELECT d, y2 FROM p2 WHERE c2 = 7),
    p3 AS (
      SELECT d, SUM(y2) OVER w AS y3, COUNT(*) OVER w AS c3 FROM p2i
      WINDOW w AS (ORDER BY d ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
    )
    SELECT d AS dte,
           round(CAST(y3 AS DOUBLE) / 343 / 100, 6) AS kz_smoothed_dollars
    FROM p3 WHERE c3 = 7
    ORDER BY dte
    """,
)
def q_kz_filter_smoothing(spark: SparkSession, sf_dir: str) -> DataFrame:
    daily = _daily_cents(spark, sf_dir)
    w7 = Window.orderBy("d").rowsBetween(-3, 3)
    p1 = daily.select(
        "d", F.sum("y").over(w7).alias("y1"), F.count(F.lit(1)).over(w7).alias("c1")
    ).where(F.col("c1") == 7)
    p2 = p1.select(
        "d",
        F.sum("y1").over(w7).alias("y2"),
        F.count(F.lit(1)).over(w7).alias("c2"),
    ).where(F.col("c2") == 7)
    p3 = p2.select(
        "d",
        F.sum("y2").over(w7).alias("y3"),
        F.count(F.lit(1)).over(w7).alias("c3"),
    ).where(F.col("c3") == 7)
    return p3.select(
        F.col("d").alias("dte"),
        F.round(F.col("y3").cast("double") / 343 / 100, 6).alias(
            "kz_smoothed_dollars"
        ),
    ).orderBy("dte")


# ---------------------------------------------------------------------------
# Seasonal Mann-Kendall trend test: the MK S statistic computed WITHIN
# each weekday season and summed, with the tie-corrected variance
# summed across seasons. All-integer until the final z; the pairwise
# joins run per-season over the bounded spine (7 x ~340^2 / 2 pairs at
# any SF).
@_q(
    "seasonal_mann_kendall",
    f"""
    WITH daily AS ({_SQL_DAILY}),
    sd AS (SELECT d, isodow(d) - 1 AS wd, y FROM daily),
    s_per AS (
      SELECT a.wd,
             SUM(CASE WHEN b.y > a.y THEN 1
                      WHEN b.y < a.y THEN -1 ELSE 0 END) AS s
      FROM sd a JOIN sd b ON b.wd = a.wd AND b.d > a.d
      GROUP BY a.wd
    ),
    n_per AS (SELECT wd, COUNT(*) AS n FROM sd GROUP BY wd),
    ties AS (
      SELECT wd, COALESCE(SUM(t * (t - 1) * (2 * t + 5)), 0) AS tv
      FROM (SELECT wd, COUNT(*) AS t FROM sd GROUP BY wd, y
            HAVING COUNT(*) > 1)
      GROUP BY wd
    ),
    agg AS (
      SELECT SUM(s.s) AS s_total,
             SUM(n.n * (n.n - 1) * (2 * n.n + 5)
                 - COALESCE(t.tv, 0)) AS var18
      FROM s_per s JOIN n_per n ON s.wd = n.wd
      LEFT JOIN ties t ON s.wd = t.wd
    )
    SELECT CAST(s_total AS BIGINT) AS s_statistic,
           round((CAST(s_total AS DOUBLE)
                  - CASE WHEN s_total > 0 THEN 1
                         WHEN s_total < 0 THEN -1 ELSE 0 END)
                 / sqrt(CAST(var18 AS DOUBLE) / 18.0), 9) AS z_score
    FROM agg
    """,
)
def q_seasonal_mann_kendall(spark: SparkSession, sf_dir: str) -> DataFrame:
    daily = _daily_cents(spark, sf_dir)
    sd = daily.select(
        "d", F.expr("weekday(d)").alias("wd"), "y"
    ).localCheckpoint(eager=True)
    a = sd.select(
        F.col("wd").alias("wa"), F.col("d").alias("da"), F.col("y").alias("ya")
    )
    b = sd.select(
        F.col("wd").alias("wb"), F.col("d").alias("db"), F.col("y").alias("yb")
    )
    s_per = (
        a.join(b, (F.col("wb") == F.col("wa")) & (F.col("db") > F.col("da")))
        .groupBy(F.col("wa").alias("wd"))
        .agg(
            F.sum(
                F.when(F.col("yb") > F.col("ya"), 1)
                .when(F.col("yb") < F.col("ya"), -1)
                .otherwise(0)
            ).alias("s")
        )
    )
    n_per = sd.groupBy("wd").agg(F.count(F.lit(1)).alias("n"))
    ties = (
        sd.groupBy("wd", "y")
        .agg(F.count(F.lit(1)).alias("t"))
        .where(F.col("t") > 1)
        .groupBy("wd")
        .agg(
            F.coalesce(
                F.sum(F.col("t") * (F.col("t") - 1) * (2 * F.col("t") + 5)),
                F.lit(0),
            ).alias("tv")
        )
    )
    agg = (
        s_per.join(n_per, "wd")
        .join(ties, "wd", "left")
        .agg(
            F.sum("s").alias("s_total"),
            F.sum(
                F.col("n") * (F.col("n") - 1) * (2 * F.col("n") + 5)
                - F.coalesce(F.col("tv"), F.lit(0))
            ).alias("var18"),
        )
    )
    s = F.col("s_total")
    return agg.select(
        s.cast("bigint").alias("s_statistic"),
        F.round(
            (
                s.cast("double")
                - F.when(s > 0, 1).when(s < 0, -1).otherwise(0)
            )
            / F.sqrt(F.col("var18").cast("double") / 18.0),
            9,
        ).alias("z_score"),
    )


# ---------------------------------------------------------------------------
# Market-concentration indices per nation market: Herfindahl-Hirschman
# (sum of squared revenue shares), CR4 (top-4 share), and the Shannon
# entropy index over supplier shares. Revenue reduces to exact decimal
# cents per (nation, supplier) first; shares are single divisions and
# the per-supplier entropy/HHI terms round to 12dp and sum as
# scale-preserving decimals (order-free).
@_q(
    "herfindahl_concentration",
    """
    WITH rev AS (
      SELECT n.n_name AS nation, l.l_suppkey AS supp,
             CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))
                      * (1 - CAST(l.l_discount AS DECIMAL(18,2))) * 10000)
                  AS DECIMAL(38,0)) AS r
      FROM lineitem l
      JOIN supplier s ON l.l_suppkey = s.s_suppkey
      JOIN nation n ON s.s_nationkey = n.n_nationkey
      GROUP BY 1, 2
    ),
    tot AS (
      SELECT nation, CAST(SUM(r) AS DOUBLE) AS rt, COUNT(*) AS n_firms
      FROM rev GROUP BY nation
    ),
    ranked AS (
      SELECT r.nation, CAST(r.r AS DOUBLE) / t.rt AS share,
             row_number() OVER (PARTITION BY r.nation
                                ORDER BY r.r DESC, r.supp) AS rk
      FROM rev r JOIN tot t ON r.nation = t.nation
    ),
    terms AS (
      SELECT nation,
             CAST(round(share * share, 12) AS DECIMAL(38,12)) AS hhi_t,
             CAST(round(-share * ln(share), 12) AS DECIMAL(38,12)) AS ent_t,
             CASE WHEN rk <= 4 THEN CAST(round(share, 12) AS DECIMAL(38,12))
                  ELSE CAST(0 AS DECIMAL(38,12)) END AS cr4_t
      FROM ranked
    )
    SELECT t.nation, CAST(t.n_firms AS BIGINT) AS n_firms,
           CAST(SUM(x.hhi_t) AS DOUBLE) AS hhi,
           CAST(SUM(x.cr4_t) AS DOUBLE) AS cr4,
           CAST(SUM(x.ent_t) AS DOUBLE) AS entropy_index
    FROM terms x JOIN tot t ON x.nation = t.nation
    GROUP BY t.nation, t.n_firms
    ORDER BY t.nation
    """,
)
def q_herfindahl_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem")
    su = t(spark, sf_dir, "supplier")
    na = t(spark, sf_dir, "nation")
    rev = (
        li.join(su, li.l_suppkey == su.s_suppkey)
        .join(na, su.s_nationkey == na.n_nationkey)
        .groupBy(F.col("n_name").alias("nation"), F.col("l_suppkey").alias("supp"))
        .agg(
            F.sum(
                F.col("l_extendedprice").cast("decimal(18,2)")
                * (1 - F.col("l_discount").cast("decimal(18,2)"))
                * 10000
            )
            .cast("decimal(38,0)")
            .alias("r")
        )
    )
    tot = rev.groupBy("nation").agg(
        F.sum("r").cast("double").alias("rt"), F.count(F.lit(1)).alias("n_firms")
    )
    ranked = rev.join(tot, "nation").select(
        "nation",
        "n_firms",
        (F.col("r").cast("double") / F.col("rt")).alias("share"),
        F.row_number()
        .over(Window.partitionBy("nation").orderBy(F.desc("r"), F.asc("supp")))
        .alias("rk"),
    )
    terms = ranked.select(
        "nation",
        "n_firms",
        F.round(F.col("share") * F.col("share"), 12)
        .cast("decimal(38,12)")
        .alias("hhi_t"),
        F.round(-F.col("share") * F.log(F.col("share")), 12)
        .cast("decimal(38,12)")
        .alias("ent_t"),
        F.when(F.col("rk") <= 4, F.round(F.col("share"), 12).cast("decimal(38,12)"))
        .otherwise(F.lit(0).cast("decimal(38,12)"))
        .alias("cr4_t"),
    )
    return (
        terms.groupBy("nation", "n_firms")
        .agg(
            F.sum("hhi_t").cast("double").alias("hhi"),
            F.sum("cr4_t").cast("double").alias("cr4"),
            F.sum("ent_t").cast("double").alias("entropy_index"),
        )
        .select(
            "nation",
            F.col("n_firms").cast("bigint").alias("n_firms"),
            "hhi",
            "cr4",
            "entropy_index",
        )
        .orderBy("nation")
    )


# ---------------------------------------------------------------------------
# Index-number economics: Laspeyres, Paasche and Fisher price indices
# per order year against the base year, over the parts present in
# both periods. Part-year price and quantity reduce to exact decimals
# first; each cross-product term rounds to 6dp and sums as decimal.
@_q(
    "price_indices_fisher",
    """
    WITH py AS (
      SELECT year(l_shipdate) AS yr, l_partkey AS pk,
             SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS rev,
             SUM(CAST(l_quantity AS DECIMAL(18,2))) AS qty
      FROM lineitem GROUP BY 1, 2
    ),
    base AS (SELECT MIN(yr) AS y0 FROM py),
    joined AS (
      SELECT c.yr,
             CAST(round((CAST(c.rev AS DOUBLE) / CAST(c.qty AS DOUBLE))
                        * CAST(b.qty AS DOUBLE), 6) AS DECIMAL(38,6)) AS pt_q0,
             CAST(round((CAST(b.rev AS DOUBLE) / CAST(b.qty AS DOUBLE))
                        * CAST(b.qty AS DOUBLE), 6) AS DECIMAL(38,6)) AS p0_q0,
             CAST(round((CAST(c.rev AS DOUBLE) / CAST(c.qty AS DOUBLE))
                        * CAST(c.qty AS DOUBLE), 6) AS DECIMAL(38,6)) AS pt_qt,
             CAST(round((CAST(b.rev AS DOUBLE) / CAST(b.qty AS DOUBLE))
                        * CAST(c.qty AS DOUBLE), 6) AS DECIMAL(38,6)) AS p0_qt
      FROM py c
      JOIN py b ON b.pk = c.pk AND b.yr = (SELECT y0 FROM base)
      WHERE c.yr > (SELECT y0 FROM base)
    ),
    agg AS (
      SELECT yr,
             CAST(SUM(pt_q0) AS DOUBLE) / CAST(SUM(p0_q0) AS DOUBLE) AS lasp,
             CAST(SUM(pt_qt) AS DOUBLE) / CAST(SUM(p0_qt) AS DOUBLE) AS paas
      FROM joined GROUP BY yr
    )
    SELECT CAST(yr AS BIGINT) AS yr,
           round(lasp, 9) AS laspeyres,
           round(paas, 9) AS paasche,
           round(sqrt(lasp * paas), 9) AS fisher
    FROM agg ORDER BY yr
    """,
)
def q_price_indices_fisher(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem")
    py = li.groupBy(
        F.year("l_shipdate").alias("yr"), F.col("l_partkey").alias("pk")
    ).agg(
        F.sum(F.col("l_extendedprice").cast("decimal(18,2)")).alias("rev"),
        F.sum(F.col("l_quantity").cast("decimal(18,2)")).alias("qty"),
    )
    y0 = py.agg(F.min("yr").alias("y0"))
    base = (
        py.crossJoin(F.broadcast(y0))
        .where(F.col("yr") == F.col("y0"))
        .select(
            F.col("pk").alias("bpk"),
            F.col("rev").alias("brev"),
            F.col("qty").alias("bqty"),
            "y0",
        )
    )
    cur = py.crossJoin(F.broadcast(y0)).where(F.col("yr") > F.col("y0")).drop("y0")
    j = cur.join(base, cur.pk == base.bpk)
    pc = F.col("rev").cast("double") / F.col("qty").cast("double")
    pb = F.col("brev").cast("double") / F.col("bqty").cast("double")
    joined = j.select(
        "yr",
        F.round(pc * F.col("bqty").cast("double"), 6)
        .cast("decimal(38,6)")
        .alias("pt_q0"),
        F.round(pb * F.col("bqty").cast("double"), 6)
        .cast("decimal(38,6)")
        .alias("p0_q0"),
        F.round(pc * F.col("qty").cast("double"), 6)
        .cast("decimal(38,6)")
        .alias("pt_qt"),
        F.round(pb * F.col("qty").cast("double"), 6)
        .cast("decimal(38,6)")
        .alias("p0_qt"),
    )
    agg = joined.groupBy("yr").agg(
        (F.sum("pt_q0").cast("double") / F.sum("p0_q0").cast("double")).alias(
            "lasp"
        ),
        (F.sum("pt_qt").cast("double") / F.sum("p0_qt").cast("double")).alias(
            "paas"
        ),
    )
    return agg.select(
        F.col("yr").cast("bigint").alias("yr"),
        F.round(F.col("lasp"), 9).alias("laspeyres"),
        F.round(F.col("paas"), 9).alias("paasche"),
        F.round(F.sqrt(F.col("lasp") * F.col("paas")), 9).alias("fisher"),
    ).orderBy("yr")


# ---------------------------------------------------------------------------
# Tukey median polish of the (priority x order-month) median-revenue
# table: two full (row, column) sweeps over the BOUNDED 5x12 cell
# table. Cell medians land on the half-cent lattice; every sweep is a
# grouped-median + join (never a window median), and both engines run
# the identical subtraction tree.
@_q(
    "median_polish_two_way",
    """
    WITH cells AS (
      SELECT o_orderpriority AS prio, month(o_orderdate) AS mth,
             median(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT))
               AS v
      FROM orders GROUP BY 1, 2
    ),
    r1m AS (SELECT prio, median(v) AS rm FROM cells GROUP BY prio),
    r1 AS (
      SELECT c.prio, c.mth, c.v - m.rm AS v
      FROM cells c JOIN r1m m ON c.prio = m.prio
    ),
    c1m AS (SELECT mth, median(v) AS cm FROM r1 GROUP BY mth),
    c1 AS (
      SELECT r.prio, r.mth, r.v - m.cm AS v
      FROM r1 r JOIN c1m m ON r.mth = m.mth
    ),
    r2m AS (SELECT prio, median(v) AS rm FROM c1 GROUP BY prio),
    r2 AS (
      SELECT c.prio, c.mth, c.v - m.rm AS v
      FROM c1 c JOIN r2m m ON c.prio = m.prio
    ),
    c2m AS (SELECT mth, median(v) AS cm FROM r2 GROUP BY mth),
    c2 AS (
      SELECT r.prio, r.mth, r.v - m.cm AS v
      FROM r2 r JOIN c2m m ON r.mth = m.mth
    )
    SELECT prio, CAST(mth AS BIGINT) AS mth,
           round(v / 100.0, 6) AS residual_dollars
    FROM c2 ORDER BY prio, mth
    """,
)
def q_median_polish_two_way(spark: SparkSession, sf_dir: str) -> DataFrame:
    cells = (
        t(spark, sf_dir, "orders")
        .groupBy(
            F.col("o_orderpriority").alias("prio"),
            F.month("o_orderdate").alias("mth"),
        )
        .agg(
            F.median(
                (F.col("o_totalprice").cast("decimal(18,2)") * 100).cast("bigint")
            ).alias("v")
        )
    )
    cur = cells
    for sweep in range(2):
        rm = cur.groupBy("prio").agg(F.median("v").alias("rm"))
        cur = cur.join(rm, "prio").select(
            "prio", "mth", (F.col("v") - F.col("rm")).alias("v")
        )
        cm = cur.groupBy("mth").agg(F.median("v").alias("cm"))
        cur = cur.join(cm, "mth").select(
            "prio", "mth", (F.col("v") - F.col("cm")).alias("v")
        )
    return cur.select(
        "prio",
        F.col("mth").cast("bigint").alias("mth"),
        F.round(F.col("v") / 100.0, 6).alias("residual_dollars"),
    ).orderBy("prio", "mth")


# ---------------------------------------------------------------------------
# Entropy rate of the first-order Markov chain over per-user event-type
# sequences: H = -sum_ij p(i,j) log2 p(j|i). Transition counting is one
# user-partitioned lag window + groupBy (row-scaled but shuffle-exact);
# the <= |types|^2 plug-in terms round to 12dp and sum as decimals.
@_q(
    "entropy_rate_markov",
    """
    WITH seq AS (
      SELECT event_type AS cur,
             lag(event_type) OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id) AS prev
      FROM events
    ),
    trans AS (
      SELECT prev, cur, COUNT(*) AS c FROM seq
      WHERE prev IS NOT NULL GROUP BY prev, cur
    ),
    row_tot AS (SELECT prev, SUM(c) AS rc FROM trans GROUP BY prev),
    nn AS (SELECT SUM(c) AS n FROM trans),
    terms AS (
      SELECT CAST(round(-(CAST(t.c AS DOUBLE) / nn.n)
                        * log2(CAST(t.c AS DOUBLE) / r.rc), 12)
                  AS DECIMAL(38,12)) AS h_t
      FROM trans t JOIN row_tot r ON t.prev = r.prev, nn
    )
    SELECT (SELECT CAST(n AS BIGINT) FROM nn) AS n_transitions,
           round(CAST(SUM(h_t) AS DOUBLE), 9) AS entropy_rate_bits
    FROM terms
    """,
)
def q_entropy_rate_markov(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        F.col("event_type").alias("cur"),
        F.lag("event_type").over(w).alias("prev"),
    ).where(F.col("prev").isNotNull())
    trans = seq.groupBy("prev", "cur").agg(F.count(F.lit(1)).alias("c"))
    trans = trans.localCheckpoint(eager=True)
    row_tot = trans.groupBy("prev").agg(F.sum("c").alias("rc"))
    nn = trans.agg(F.sum("c").alias("n"))
    terms = (
        trans.join(row_tot, "prev")
        .crossJoin(F.broadcast(nn))
        .select(
            "n",
            F.round(
                -(F.col("c").cast("double") / F.col("n"))
                * F.log2(F.col("c").cast("double") / F.col("rc")),
                12,
            )
            .cast("decimal(38,12)")
            .alias("h_t"),
        )
    )
    return terms.agg(
        F.any_value("n").cast("bigint").alias("n_transitions"),
        F.round(F.sum("h_t").cast("double"), 9).alias("entropy_rate_bits"),
    )


# ---------------------------------------------------------------------------
# Deterministic weighted reservoir sample (Efraimidis-Spirakis A-ES):
# key = ln(u)/w with u a 48-bit md5 fraction of the order key — the
# hash replaces the RNG, so the "sample" is exactly reproducible and
# SQL-checkable while keeping the E-S property that inclusion
# probability scales with weight. Top-k by key is a TakeOrdered, no
# global sort materialization.
@_q(
    "hash_reservoir_sample",
    """
    WITH keyed AS (
      SELECT o_orderkey AS okey,
             CAST(o_totalprice AS DOUBLE) AS w,
             ln(CAST(('0x' || substring(md5(CAST(o_orderkey AS VARCHAR)), 1, 12))
                     AS BIGINT) / 281474976710656.0)
               / CAST(o_totalprice AS DOUBLE) AS k
      FROM orders
    )
    SELECT okey, round(w, 2) AS weight, round(k, 12) AS es_key
    FROM keyed ORDER BY k DESC, okey LIMIT 20
    """,
)
def q_hash_reservoir_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = t(spark, sf_dir, "orders")
    u = (
        F.conv(
            F.substring(F.md5(F.col("o_orderkey").cast("string")), 1, 12), 16, 10
        ).cast("bigint")
        / F.lit(281474976710656.0)
    )
    keyed = orders.select(
        F.col("o_orderkey").alias("okey"),
        F.col("o_totalprice").cast("double").alias("w"),
        (F.log(u) / F.col("o_totalprice").cast("double")).alias("k"),
    )
    return (
        keyed.select(
            "okey", F.round("w", 2).alias("weight"), F.round("k", 12).alias("es_key")
        )
        .orderBy(F.desc("k"), F.asc("okey"))
        .limit(20)
    )


# ---------------------------------------------------------------------------
# Zero-inflation diagnostic of per-(user, day) event counts against
# the Poisson null: observed zero fraction over the full user x day
# grid (zeros counted by subtraction — the grid is never materialized)
# vs exp(-lambda_hat). All counting exact; the comparison is one
# closed-form float row.
@_q(
    "zero_inflation_check",
    """
    WITH obs AS (
      SELECT user_id, CAST(ts AS DATE) AS dte, COUNT(*) AS k
      FROM events GROUP BY 1, 2
    ),
    dims AS (
      SELECT (SELECT COUNT(DISTINCT user_id) FROM events) AS nu,
             (SELECT COUNT(DISTINCT CAST(ts AS DATE)) FROM events) AS nd,
             (SELECT COUNT(*) FROM events) AS ne,
             (SELECT COUNT(*) FROM obs) AS nnz
    )
    SELECT CAST(nu * nd AS BIGINT) AS n_cells,
           CAST(nu * nd - nnz AS BIGINT) AS zero_cells,
           round(CAST(ne AS DOUBLE) / (nu * nd), 9) AS lambda_hat,
           round(CAST(nu * nd - nnz AS DOUBLE) / (nu * nd), 9) AS p0_observed,
           round(exp(-(CAST(ne AS DOUBLE) / (nu * nd))), 9) AS p0_poisson,
           round((CAST(nu * nd - nnz AS DOUBLE) / (nu * nd))
                 / exp(-(CAST(ne AS DOUBLE) / (nu * nd))), 9)
             AS zero_inflation_ratio
    FROM dims
    """,
)
def q_zero_inflation_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events")
    obs = ev.groupBy("user_id", F.col("ts").cast("date").alias("dte")).agg(
        F.count(F.lit(1)).alias("k")
    )
    dims = ev.agg(
        F.countDistinct("user_id").alias("nu"),
        F.countDistinct(F.col("ts").cast("date")).alias("nd"),
        F.count(F.lit(1)).alias("ne"),
    ).crossJoin(obs.agg(F.count(F.lit(1)).alias("nnz")))
    cells = F.col("nu") * F.col("nd")
    lam = F.col("ne").cast("double") / cells
    p0o = (cells - F.col("nnz")).cast("double") / cells
    return dims.select(
        cells.cast("bigint").alias("n_cells"),
        (cells - F.col("nnz")).cast("bigint").alias("zero_cells"),
        F.round(lam, 9).alias("lambda_hat"),
        F.round(p0o, 9).alias("p0_observed"),
        F.round(F.exp(-lam), 9).alias("p0_poisson"),
        F.round(p0o / F.exp(-lam), 9).alias("zero_inflation_ratio"),
    )


# ---------------------------------------------------------------------------
# Standard deviational ellipse of the event point cloud (the classic
# centrographic dispersion summary): mean center, rotation and
# semi-axes from second moments. Points come from the same LCG map the
# spatial tier uses; all moments are exact integers (n-scaled to clear
# the rational mean), the ellipse parameters are one closed-form float
# row. 100 TB: reduces to per-cell multiplicities then 5 moments —
# nothing but the moments crosses the wire.
@_q(
    "std_deviational_ellipse",
    """
    WITH pts AS (
      SELECT ((event_id * 48271) % 2147483647) % 256 AS px,
             (((event_id * 48271) % 2147483647) // 256) % 256 AS py,
             COUNT(*) AS m
      FROM events GROUP BY 1, 2
    ),
    mom AS (
      SELECT SUM(m) AS n,
             SUM(m * px) AS sx, SUM(m * py) AS sy,
             SUM(CAST(m AS DECIMAL(38,0)) * px * px) AS sxx,
             SUM(CAST(m AS DECIMAL(38,0)) * py * py) AS syy,
             SUM(CAST(m AS DECIMAL(38,0)) * px * py) AS sxy
      FROM pts
    ),
    c AS (
      SELECT CAST(n AS DOUBLE) AS n,
             CAST(sx AS DOUBLE) AS sx, CAST(sy AS DOUBLE) AS sy,
             CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
               - CAST(sx AS DOUBLE) * sx AS uxx,
             CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
               - CAST(sy AS DOUBLE) * sy AS uyy,
             CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
               - CAST(sx AS DOUBLE) * sy AS uxy
      FROM mom
    )
    SELECT round(sx / n, 9) AS mean_x,
           round(sy / n, 9) AS mean_y,
           round(degrees(atan2(2 * uxy, uxx - uyy) / 2), 9) AS rotation_deg,
           round(sqrt((uxx + uyy + sqrt((uxx - uyy) * (uxx - uyy)
                                        + 4 * uxy * uxy)) / (2 * n * n)), 9)
             AS sigma_major,
           round(sqrt((uxx + uyy - sqrt((uxx - uyy) * (uxx - uyy)
                                        + 4 * uxy * uxy)) / (2 * n * n)), 9)
             AS sigma_minor
    FROM c
    """,
)
def q_std_deviational_ellipse(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events")
    lcg = (F.col("event_id") * 48271) % 2147483647
    pts = ev.groupBy(
        (lcg % 256).alias("px"), ((lcg / 256).cast("bigint") % 256).alias("py")
    ).agg(F.count(F.lit(1)).alias("m"))
    dec = "decimal(38,0)"
    mom = pts.agg(
        F.sum("m").alias("n"),
        F.sum(F.col("m") * F.col("px")).alias("sx"),
        F.sum(F.col("m") * F.col("py")).alias("sy"),
        F.sum(F.col("m").cast(dec) * F.col("px") * F.col("px")).alias("sxx"),
        F.sum(F.col("m").cast(dec) * F.col("py") * F.col("py")).alias("syy"),
        F.sum(F.col("m").cast(dec) * F.col("px") * F.col("py")).alias("sxy"),
    )
    n = F.col("n").cast("double")
    sx, sy = F.col("sx").cast("double"), F.col("sy").cast("double")
    uxx = n * F.col("sxx").cast("double") - sx * sx
    uyy = n * F.col("syy").cast("double") - sy * sy
    uxy = n * F.col("sxy").cast("double") - sx * sy
    disc = F.sqrt((uxx - uyy) * (uxx - uyy) + 4 * uxy * uxy)
    return mom.select(
        F.round(sx / n, 9).alias("mean_x"),
        F.round(sy / n, 9).alias("mean_y"),
        F.round(F.degrees(F.atan2(2 * uxy, uxx - uyy) / 2), 9).alias(
            "rotation_deg"
        ),
        F.round(F.sqrt((uxx + uyy + disc) / (2 * n * n)), 9).alias("sigma_major"),
        F.round(F.sqrt((uxx + uyy - disc) / (2 * n * n)), 9).alias("sigma_minor"),
    )


# ---------------------------------------------------------------------------
# Directed-graph reciprocity over the co-supply graph: each undirected
# supplier pair (u < v) contributes the u->v arc when bit0 of its md5
# bucket is set and the v->u arc when bit1 is set (deterministic
# hash-orientation; pairs with neither bit drop). r = bidirectional
# arcs / all arcs — exact integer counting, never all-pairs (the pair
# set is the co-supply join the whole graph tier shares).
@_q(
    "graph_reciprocity",
    "WITH " + _EDGES_CTE + """,
    oriented AS (
      SELECT u, v,
             CAST(('0x' || substring(md5(CAST(u * 1000 + v AS VARCHAR)), 9, 2))
                  AS INTEGER) % 4 AS bits
      FROM eu
    ),
    arcs AS (
      SELECT SUM(CASE WHEN bits IN (1, 3) THEN 1 ELSE 0 END
                 + CASE WHEN bits IN (2, 3) THEN 1 ELSE 0 END) AS n_arcs,
             SUM(CASE WHEN bits = 3 THEN 2 ELSE 0 END) AS n_recip
      FROM oriented
    )
    SELECT CAST(n_arcs AS BIGINT) AS n_arcs,
           CAST(n_recip AS BIGINT) AS n_reciprocal,
           round(CAST(n_recip AS DOUBLE) / n_arcs, 9) AS reciprocity
    FROM arcs
    """,
)
def q_graph_reciprocity(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .graph_queries import _undirected_edges

    pairs = _undirected_edges(spark, sf_dir)
    bits = (
        F.conv(
            F.substring(
                F.md5((F.col("u") * 1000 + F.col("v")).cast("string")), 9, 2
            ),
            16,
            10,
        ).cast("int")
        % 4
    )
    oriented = pairs.select(bits.alias("bits"))
    arcs = oriented.agg(
        F.sum(
            F.when(F.col("bits").isin(1, 3), 1).otherwise(0)
            + F.when(F.col("bits").isin(2, 3), 1).otherwise(0)
        ).alias("n_arcs"),
        F.sum(F.when(F.col("bits") == 3, 2).otherwise(0)).alias("n_recip"),
    )
    return arcs.select(
        F.col("n_arcs").cast("bigint").alias("n_arcs"),
        F.col("n_recip").cast("bigint").alias("n_reciprocal"),
        F.round(
            F.col("n_recip").cast("double") / F.col("n_arcs"), 9
        ).alias("reciprocity"),
    )


# ---------------------------------------------------------------------------
# Gini inequality of the co-supply degree distribution: G =
# 2*sum(i*d_i)/(n*sum(d)) - (n+1)/n over degree-sorted nodes. Degrees
# are one groupBy; the rank window runs over the per-NODE table (post-
# aggregate, supplier-cardinality bounded), ties broken by node id.
@_q(
    "degree_gini_inequality",
    "WITH " + _EDGES_CTE + """,
    deg AS (
      SELECT node, COUNT(*) AS d FROM (
        SELECT u AS node FROM eu UNION ALL SELECT v AS node FROM eu
      ) GROUP BY node
    ),
    ranked AS (
      SELECT d, row_number() OVER (ORDER BY d, node) AS i FROM deg
    ),
    agg AS (
      SELECT COUNT(*) AS n, SUM(d) AS sd,
             SUM(CAST(i AS DECIMAL(38,0)) * d) AS sid
      FROM ranked
    )
    SELECT CAST(n AS BIGINT) AS n_nodes,
           CAST(sd AS BIGINT) AS total_degree,
           round(2.0 * CAST(sid AS DOUBLE) / (CAST(n AS DOUBLE) * sd)
                 - (n + 1.0) / n, 9) AS degree_gini
    FROM agg
    """,
)
def q_degree_gini_inequality(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .graph_queries import _undirected_edges

    pairs = _undirected_edges(spark, sf_dir)
    deg = (
        pairs.select(F.col("u").alias("node"))
        .unionByName(pairs.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    ranked = deg.select(
        "d", F.row_number().over(Window.orderBy("d", "node")).alias("i")
    )
    agg = ranked.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("d").alias("sd"),
        F.sum(F.col("i").cast("decimal(38,0)") * F.col("d")).alias("sid"),
    )
    n = F.col("n")
    return agg.select(
        n.cast("bigint").alias("n_nodes"),
        F.col("sd").cast("bigint").alias("total_degree"),
        F.round(
            2.0 * F.col("sid").cast("double") / (n.cast("double") * F.col("sd"))
            - (n + 1.0) / n,
            9,
        ).alias("degree_gini"),
    )


# ---------------------------------------------------------------------------
# Character-class composition profile per language: ASCII letter /
# digit / whitespace / other fractions via global regexp strip-counts
# (all counting exact integers; ratios are single divisions). The
# classes are explicit ASCII sets so both engines' regex semantics
# coincide.
@_q(
    "char_class_profile",
    """
    WITH per_doc AS (
      SELECT lang,
             length(text) AS total,
             length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) AS letters,
             length(regexp_replace(text, '[^0-9]', '', 'g')) AS digits,
             length(regexp_replace(text, '[^ ]', '', 'g')) AS spaces
      FROM documents
    ),
    agg AS (
      SELECT lang, SUM(total) AS total, SUM(letters) AS letters,
             SUM(digits) AS digits, SUM(spaces) AS spaces,
             COUNT(*) AS n_docs
      FROM per_doc GROUP BY lang
    )
    SELECT lang, CAST(n_docs AS BIGINT) AS n_docs,
           CAST(total AS BIGINT) AS n_chars,
           round(CAST(letters AS DOUBLE) / total, 9) AS letter_ratio,
           round(CAST(digits AS DOUBLE) / total, 9) AS digit_ratio,
           round(CAST(spaces AS DOUBLE) / total, 9) AS space_ratio,
           round(CAST(total - letters - digits - spaces AS DOUBLE) / total, 9)
             AS other_ratio
    FROM agg ORDER BY lang
    """,
)
def q_char_class_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents")
    per_doc = docs.select(
        "lang",
        F.length("text").alias("total"),
        F.length(F.regexp_replace("text", "[^a-zA-Z]", "")).alias("letters"),
        F.length(F.regexp_replace("text", "[^0-9]", "")).alias("digits"),
        F.length(F.regexp_replace("text", "[^ ]", "")).alias("spaces"),
    )
    agg = per_doc.groupBy("lang").agg(
        F.sum("total").alias("total"),
        F.sum("letters").alias("letters"),
        F.sum("digits").alias("digits"),
        F.sum("spaces").alias("spaces"),
        F.count(F.lit(1)).alias("n_docs"),
    )
    tot = F.col("total")
    return agg.select(
        "lang",
        F.col("n_docs").cast("bigint").alias("n_docs"),
        tot.cast("bigint").alias("n_chars"),
        F.round(F.col("letters").cast("double") / tot, 9).alias("letter_ratio"),
        F.round(F.col("digits").cast("double") / tot, 9).alias("digit_ratio"),
        F.round(F.col("spaces").cast("double") / tot, 9).alias("space_ratio"),
        F.round(
            (tot - F.col("letters") - F.col("digits") - F.col("spaces")).cast(
                "double"
            )
            / tot,
            9,
        ).alias("other_ratio"),
    ).orderBy("lang")


# ---------------------------------------------------------------------------
# Hapax legomena ratio per source: the fraction of vocabulary that
# occurs exactly once — the classic lexical-richness statistic (and a
# practical LM-corpus health check: synthetic/templated corpora have
# anomalously low hapax mass). Tokenization is the shared lowercase
# alpha split; two-level groupBy, all-integer.
@_q(
    "hapax_legomena_ratio",
    """
    WITH toks AS (
      SELECT source, unnest(string_split_regex(lower(text), '[^a-z]+')) AS tok
      FROM documents
    ),
    tf AS (
      SELECT source, tok, COUNT(*) AS c FROM toks WHERE tok <> ''
      GROUP BY source, tok
    ),
    agg AS (
      SELECT source, COUNT(*) AS vocab,
             SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS hapax,
             SUM(c) AS n_tokens
      FROM tf GROUP BY source
    )
    SELECT source, CAST(vocab AS BIGINT) AS vocab,
           CAST(hapax AS BIGINT) AS hapax,
           CAST(n_tokens AS BIGINT) AS n_tokens,
           round(CAST(hapax AS DOUBLE) / vocab, 9) AS hapax_ratio
    FROM agg ORDER BY source
    """,
)
def q_hapax_legomena_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents")
    toks = docs.select(
        "source",
        F.explode(F.split(F.lower(F.col("text")), "[^a-z]+")).alias("tok"),
    ).where(F.col("tok") != "")
    tf = toks.groupBy("source", "tok").agg(F.count(F.lit(1)).alias("c"))
    agg = tf.groupBy("source").agg(
        F.count(F.lit(1)).alias("vocab"),
        F.sum(F.when(F.col("c") == 1, 1).otherwise(0)).alias("hapax"),
        F.sum("c").alias("n_tokens"),
    )
    return agg.select(
        "source",
        F.col("vocab").cast("bigint").alias("vocab"),
        F.col("hapax").cast("bigint").alias("hapax"),
        F.col("n_tokens").cast("bigint").alias("n_tokens"),
        F.round(F.col("hapax").cast("double") / F.col("vocab"), 9).alias(
            "hapax_ratio"
        ),
    ).orderBy("source")


# ---------------------------------------------------------------------------
# Greenwood spacings statistic for uniformity of the 48-bit md5
# fractions of doc ids — the order-statistics test behind "is this
# hash fit to split/sample with?" (complements the bucketed chi-square
# the mlprep tier runs). u values are exact dyadic doubles; spacings
# subtract exactly; the squared spacings round to 15dp and sum as
# decimals. The lag window runs on the distinct-value spine.
@_q(
    "quantile_spacing_uniformity",
    """
    WITH u AS (
      SELECT CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 12))
                  AS BIGINT) / 281474976710656.0 AS u
      FROM documents
    ),
    sp AS (
      SELECT u - lag(u, 1, 0.0) OVER (ORDER BY u) AS d FROM u
    ),
    terms AS (
      SELECT CAST(round(d * d, 15) AS DECIMAL(38,15)) AS d2 FROM sp
      UNION ALL
      SELECT CAST(round((1.0 - MAX(u)) * (1.0 - MAX(u)), 15) AS DECIMAL(38,15))
      FROM u
    )
    SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM u) AS n,
           round(((SELECT COUNT(*) FROM u) + 1.0)
                 * CAST(SUM(d2) AS DOUBLE), 9) AS greenwood_g
    FROM terms
    """,
)
def q_quantile_spacing_uniformity(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents")
    u = docs.select(
        (
            F.conv(
                F.substring(F.md5(F.col("doc_id").cast("string")), 1, 12), 16, 10
            ).cast("bigint")
            / F.lit(281474976710656.0)
        ).alias("u")
    ).localCheckpoint(eager=True)
    # 100 TB shape: a GLOBAL sort of n hash values would be the one
    # single-partition window this repo bans. Spacings decompose by
    # hash-range bucket: consecutive pairs are either within a bucket
    # (window PARTITIONED BY bucket — parallel) or cross one of the
    # <= 256 bucket boundaries (a 256-row spine window). The term
    # multiset is identical to the global-sort form, which is what the
    # (plan-agnostic) DuckDB twin computes.
    bucketed = u.withColumn(
        "b", F.least(F.floor(F.col("u") * 256).cast("int"), F.lit(255))
    )
    wb = Window.partitionBy("b").orderBy("u")
    within = bucketed.select(
        (F.col("u") - F.lag("u").over(wb)).alias("d")
    ).where(F.col("d").isNotNull())
    summ = bucketed.groupBy("b").agg(
        F.min("u").alias("mn"), F.max("u").alias("mx")
    )
    ws = Window.orderBy("b")
    cross = summ.select(
        (F.col("mn") - F.lag("mx", 1, 0.0).over(ws)).alias("d")
    )
    last = u.agg((1.0 - F.max("u")).alias("d"))
    sp = within.unionByName(cross).unionByName(last)
    terms = sp.select(
        F.round(F.col("d") * F.col("d"), 15).cast("decimal(38,15)").alias("d2")
    )
    nn = u.agg(F.count(F.lit(1)).alias("n"))
    return terms.crossJoin(F.broadcast(nn)).agg(
        F.any_value("n").cast("bigint").alias("n"),
        F.round(
            (F.any_value("n") + 1.0) * F.sum("d2").cast("double"), 9
        ).alias("greenwood_g"),
    )


# ---------------------------------------------------------------------------
# Deterministic RANSAC line fit of daily revenue on day index: the RNG
# is replaced by md5 fractions (the repo's hash-for-randomness seam),
# so the 16 candidate 2-point lines and the winning consensus set are
# exactly reproducible. Inlier threshold = 1.4826*MAD on the half-cent
# lattice; each candidate's inlier count is one bounded join pass over
# the spine (16 x spine rows).
_RANSAC_K = 16


@_q(
    "ransac_line_fit",
    f"""
    WITH daily AS ({_SQL_DAILY}),
    idx AS (SELECT row_number() OVER (ORDER BY d) AS i, y FROM daily),
    nn AS (SELECT COUNT(*) AS n FROM idx),
    med AS (SELECT CAST(round(2 * median(y)) AS BIGINT) AS med2 FROM daily),
    madx AS (
      SELECT CAST(round(median(abs(2 * y - med2))) AS BIGINT) AS mad2
      FROM daily, med
    ),
    cand AS (
      SELECT k.k,
             CAST(CAST(('0x' || substring(md5('r' || CAST(k.k AS VARCHAR)),
                                          1, 12)) AS BIGINT) % n AS INTEGER)
               + 1 AS i1,
             CAST((CAST(('0x' || substring(md5('r' || CAST(k.k AS VARCHAR)),
                                           1, 12)) AS BIGINT) % n
                   + 1 + CAST(('0x' || substring(
                         md5('s' || CAST(k.k AS VARCHAR)), 1, 12)) AS BIGINT)
                         % (n - 1)) % n AS INTEGER) + 1 AS i2
      FROM (SELECT unnest(generate_series(0, {_RANSAC_K} - 1)) AS k) k, nn
    ),
    lines AS (
      SELECT c.k, c.i1, c.i2,
             CAST(b.y - a.y AS DOUBLE) / (c.i2 - c.i1) AS slope,
             a.y - CAST(b.y - a.y AS DOUBLE) / (c.i2 - c.i1) * c.i1
               AS intercept
      FROM cand c JOIN idx a ON a.i = c.i1 JOIN idx b ON b.i = c.i2
    ),
    scored AS (
      SELECT l.k, l.slope,
             SUM(CASE WHEN abs(2 * p.y - 2 * (l.intercept + l.slope * p.i))
                           <= 1.4826 * m.mad2 THEN 1 ELSE 0 END) AS inliers
      FROM lines l, idx p, madx m
      GROUP BY l.k, l.slope
    )
    SELECT CAST(k AS BIGINT) AS k, round(slope, 6) AS slope_cents_per_day,
           CAST(inliers AS BIGINT) AS inliers
    FROM scored ORDER BY inliers DESC, k LIMIT 3
    """,
)
def q_ransac_line_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    daily = _daily_cents(spark, sf_dir)
    idx = daily.select(
        F.row_number().over(Window.orderBy("d")).alias("i"), "y"
    ).localCheckpoint(eager=True)  # after the window: plan stays auditable
    nn = idx.agg(F.count(F.lit(1)).alias("n"))
    med = daily.agg(F.round(2 * F.median("y")).cast("bigint").alias("med2"))
    madx = (
        daily.crossJoin(F.broadcast(med))
        .agg(
            F.round(F.median(F.abs(2 * F.col("y") - F.col("med2"))))
            .cast("bigint")
            .alias("mad2")
        )
    )

    def h(tag: str):
        return F.conv(
            F.substring(
                F.md5(F.concat(F.lit(tag), F.col("k").cast("string"))), 1, 12
            ),
            16,
            10,
        ).cast("bigint")

    cand = (
        spark.range(_RANSAC_K)
        .select(F.col("id").alias("k"))
        .crossJoin(F.broadcast(nn))
        .select(
            "k",
            (h("r") % F.col("n")).cast("int").alias("i1m"),
            (
                (h("r") % F.col("n") + 1 + h("s") % (F.col("n") - 1))
                % F.col("n")
            )
            .cast("int")
            .alias("i2m"),
        )
        .select(
            "k", (F.col("i1m") + 1).alias("i1"), (F.col("i2m") + 1).alias("i2")
        )
    )
    a = idx.select(F.col("i").alias("i1"), F.col("y").alias("y1"))
    b = idx.select(F.col("i").alias("i2"), F.col("y").alias("y2"))
    slope = (F.col("y2") - F.col("y1")).cast("double") / (
        F.col("i2") - F.col("i1")
    )
    lines = (
        cand.join(a, "i1")
        .join(b, "i2")
        .select(
            "k",
            slope.alias("slope"),
            (F.col("y1") - slope * F.col("i1")).alias("intercept"),
        )
    )
    scored = (
        lines.crossJoin(idx.select(F.col("i").alias("pi"), F.col("y").alias("py")))
        .crossJoin(F.broadcast(madx))
        .groupBy("k", "slope")
        .agg(
            F.sum(
                F.when(
                    F.abs(
                        2 * F.col("py")
                        - 2 * (F.col("intercept") + F.col("slope") * F.col("pi"))
                    )
                    <= 1.4826 * F.col("mad2"),
                    1,
                ).otherwise(0)
            ).alias("inliers")
        )
    )
    return (
        scored.select(
            F.col("k").cast("bigint").alias("k"),
            F.round("slope", 6).alias("slope_cents_per_day"),
            F.col("inliers").cast("bigint").alias("inliers"),
        )
        .orderBy(F.desc("inliers"), F.asc("k"))
        .limit(3)
    )


# ---------------------------------------------------------------------------
# Bartlett's sphericity over the 3x3 correlation matrix of lineitem
# (price, quantity, discount): pairwise correlations from exact decimal
# moments (columns cast to the integer lattice BEFORE any product),
# 3x3 determinant in closed form, chi^2 = -(n-1-(2p+5)/6) ln(det).
@_q(
    "correlation_determinant_sphericity",
    """
    WITH v AS (
      SELECT CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS a,
             CAST(CAST(l_quantity AS DECIMAL(18,2)) * 100 AS BIGINT) AS b,
             CAST(CAST(l_discount AS DECIMAL(18,2)) * 100 AS BIGINT) AS c
      FROM lineitem
    ),
    mom AS (
      SELECT COUNT(*) AS n,
             SUM(CAST(a AS DECIMAL(38,0))) AS sa,
             SUM(CAST(b AS DECIMAL(38,0))) AS sb,
             SUM(CAST(c AS DECIMAL(38,0))) AS sc,
             SUM(CAST(a AS DECIMAL(19,0)) * CAST(a AS DECIMAL(19,0))) AS saa,
             SUM(CAST(b AS DECIMAL(19,0)) * CAST(b AS DECIMAL(19,0))) AS sbb,
             SUM(CAST(c AS DECIMAL(19,0)) * CAST(c AS DECIMAL(19,0))) AS scc,
             SUM(CAST(a AS DECIMAL(19,0)) * CAST(b AS DECIMAL(19,0))) AS sab,
             SUM(CAST(a AS DECIMAL(19,0)) * CAST(c AS DECIMAL(19,0))) AS sac,
             SUM(CAST(b AS DECIMAL(19,0)) * CAST(c AS DECIMAL(19,0))) AS sbc
      FROM v
    ),
    corr AS (
      SELECT n,
             (n * CAST(sab AS DOUBLE) - CAST(sa AS DOUBLE) * CAST(sb AS DOUBLE))
             / sqrt((n * CAST(saa AS DOUBLE) - CAST(sa AS DOUBLE) * CAST(sa AS DOUBLE))
                    * (n * CAST(sbb AS DOUBLE) - CAST(sb AS DOUBLE) * CAST(sb AS DOUBLE)))
               AS r12,
             (n * CAST(sac AS DOUBLE) - CAST(sa AS DOUBLE) * CAST(sc AS DOUBLE))
             / sqrt((n * CAST(saa AS DOUBLE) - CAST(sa AS DOUBLE) * CAST(sa AS DOUBLE))
                    * (n * CAST(scc AS DOUBLE) - CAST(sc AS DOUBLE) * CAST(sc AS DOUBLE)))
               AS r13,
             (n * CAST(sbc AS DOUBLE) - CAST(sb AS DOUBLE) * CAST(sc AS DOUBLE))
             / sqrt((n * CAST(sbb AS DOUBLE) - CAST(sb AS DOUBLE) * CAST(sb AS DOUBLE))
                    * (n * CAST(scc AS DOUBLE) - CAST(sc AS DOUBLE) * CAST(sc AS DOUBLE)))
               AS r23
      FROM mom
    )
    SELECT CAST(n AS BIGINT) AS n,
           round(r12, 9) AS r_price_qty,
           round(r13, 9) AS r_price_disc,
           round(r23, 9) AS r_qty_disc,
           round(1 - r12*r12 - r13*r13 - r23*r23 + 2*r12*r13*r23, 9)
             AS corr_det,
           round(-(n - 1 - 11.0/6)
                 * ln(1 - r12*r12 - r13*r13 - r23*r23 + 2*r12*r13*r23), 6)
             AS bartlett_chi2
    FROM corr
    """,
)
def q_correlation_determinant_sphericity(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    li = t(spark, sf_dir, "lineitem")
    v = li.select(
        (F.col("l_extendedprice").cast("decimal(18,2)") * 100)
        .cast("bigint")
        .alias("a"),
        (F.col("l_quantity").cast("decimal(18,2)") * 100)
        .cast("bigint")
        .alias("b"),
        (F.col("l_discount").cast("decimal(18,2)") * 100)
        .cast("bigint")
        .alias("c"),
    )
    d19 = "decimal(19,0)"
    mom = v.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("a").cast("decimal(38,0)")).alias("sa"),
        F.sum(F.col("b").cast("decimal(38,0)")).alias("sb"),
        F.sum(F.col("c").cast("decimal(38,0)")).alias("sc"),
        F.sum(F.col("a").cast(d19) * F.col("a").cast(d19)).alias("saa"),
        F.sum(F.col("b").cast(d19) * F.col("b").cast(d19)).alias("sbb"),
        F.sum(F.col("c").cast(d19) * F.col("c").cast(d19)).alias("scc"),
        F.sum(F.col("a").cast(d19) * F.col("b").cast(d19)).alias("sab"),
        F.sum(F.col("a").cast(d19) * F.col("c").cast(d19)).alias("sac"),
        F.sum(F.col("b").cast(d19) * F.col("c").cast(d19)).alias("sbc"),
    )
    n = F.col("n")

    def r(sxy, sx, sy, sxx, syy):
        return (
            n * F.col(sxy).cast("double")
            - F.col(sx).cast("double") * F.col(sy).cast("double")
        ) / F.sqrt(
            (
                n * F.col(sxx).cast("double")
                - F.col(sx).cast("double") * F.col(sx).cast("double")
            )
            * (
                n * F.col(syy).cast("double")
                - F.col(sy).cast("double") * F.col(sy).cast("double")
            )
        )

    corr = mom.select(
        "n",
        r("sab", "sa", "sb", "saa", "sbb").alias("r12"),
        r("sac", "sa", "sc", "saa", "scc").alias("r13"),
        r("sbc", "sb", "sc", "sbb", "scc").alias("r23"),
    )
    det = (
        1
        - F.col("r12") * F.col("r12")
        - F.col("r13") * F.col("r13")
        - F.col("r23") * F.col("r23")
        + 2 * F.col("r12") * F.col("r13") * F.col("r23")
    )
    return corr.select(
        n.cast("bigint").alias("n"),
        F.round(F.col("r12"), 9).alias("r_price_qty"),
        F.round(F.col("r13"), 9).alias("r_price_disc"),
        F.round(F.col("r23"), 9).alias("r_qty_disc"),
        F.round(det, 9).alias("corr_det"),
        F.round(-(n - 1 - F.lit(11.0) / 6) * F.log(det), 6).alias(
            "bartlett_chi2"
        ),
    )


# ---------------------------------------------------------------------------
# Cronbach's alpha reliability of quarterly spend "items" (k=4
# quarters, subjects = customers, zeros implicit): item variances and
# the row-sum variance all reduce to exact decimal moments — missing
# (customer, quarter) cells contribute 0 to every sum, so the grid is
# never materialized. The 4 item terms assemble in fixed order.
@_q(
    "cronbach_alpha_reliability",
    f"""
    WITH spend AS (
      SELECT o_custkey AS c, quarter(o_orderdate) AS q,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT) AS x
      FROM orders GROUP BY 1, 2
    ),
    nn AS (SELECT COUNT(DISTINCT o_custkey) AS nc FROM orders),
    items AS (
      SELECT {", ".join(
        f'''SUM(CASE WHEN q = {j} THEN CAST(x AS DECIMAL(38,0)) ELSE 0 END) AS s{j},
             SUM(CASE WHEN q = {j} THEN CAST(x AS DECIMAL(19,0))
                      * CAST(x AS DECIMAL(19,0)) ELSE 0 END) AS q{j}'''
        for j in (1, 2, 3, 4))}
      FROM spend
    ),
    rows_ AS (
      SELECT c, SUM(CAST(x AS DECIMAL(38,0))) AS rx FROM spend GROUP BY c
    ),
    rowmom AS (
      SELECT SUM(rx) AS sr,
             SUM(CAST(rx AS DECIMAL(19,0)) * CAST(rx AS DECIMAL(19,0))) AS qr
      FROM rows_
    )
    SELECT CAST(nc AS BIGINT) AS n_customers,
           round((4.0 / 3)
                 * (1 - ({" + ".join(
                     f"(CAST(q{j} AS DOUBLE) - CAST(s{j} AS DOUBLE)"
                     f" * CAST(s{j} AS DOUBLE) / nc)" for j in (1, 2, 3, 4))})
                      / (CAST(qr AS DOUBLE)
                         - CAST(sr AS DOUBLE) * CAST(sr AS DOUBLE) / nc)), 9)
             AS cronbach_alpha
    FROM items, rowmom, nn
    """,
)
def q_cronbach_alpha_reliability(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = t(spark, sf_dir, "orders")
    spend = orders.groupBy(
        F.col("o_custkey").alias("c"), F.quarter("o_orderdate").alias("q")
    ).agg(
        (F.sum(F.col("o_totalprice").cast("decimal(18,2)")) * 100)
        .cast("bigint")
        .alias("x")
    )
    nn = orders.agg(F.countDistinct("o_custkey").alias("nc"))
    d19 = "decimal(19,0)"
    items = spend.agg(
        *[
            agg
            for j in (1, 2, 3, 4)
            for agg in (
                F.sum(
                    F.when(F.col("q") == j, F.col("x").cast("decimal(38,0)"))
                    .otherwise(F.lit(0).cast("decimal(38,0)"))
                ).alias(f"s{j}"),
                F.sum(
                    F.when(
                        F.col("q") == j,
                        F.col("x").cast(d19) * F.col("x").cast(d19),
                    ).otherwise(F.lit(0).cast("decimal(38,0)"))
                ).alias(f"q{j}"),
            )
        ]
    )
    rows_ = spend.groupBy("c").agg(
        F.sum(F.col("x").cast("decimal(38,0)")).alias("rx")
    )
    rowmom = rows_.agg(
        F.sum("rx").alias("sr"),
        F.sum(F.col("rx").cast(d19) * F.col("rx").cast(d19)).alias("qr"),
    )
    out = items.crossJoin(rowmom).crossJoin(F.broadcast(nn))
    nc = F.col("nc")
    item_var_sum = None
    for j in (1, 2, 3, 4):
        tj = F.col(f"q{j}").cast("double") - F.col(f"s{j}").cast("double") * F.col(
            f"s{j}"
        ).cast("double") / nc
        item_var_sum = tj if item_var_sum is None else item_var_sum + tj
    tot_var = (
        F.col("qr").cast("double")
        - F.col("sr").cast("double") * F.col("sr").cast("double") / nc
    )
    return out.select(
        nc.cast("bigint").alias("n_customers"),
        F.round((F.lit(4.0) / 3) * (1 - item_var_sum / tot_var), 9).alias(
            "cronbach_alpha"
        ),
    )


# ---------------------------------------------------------------------------
# One-way intraclass correlation ICC(1,1) of order totals within the 5
# priority groups: MSB/MSW from exact per-group moments pivoted into
# one row (fixed 5-term assembly), unbalanced-design n0 correction.
def _icc_sql() -> str:
    gm = ",\n             ".join(
        f"""SUM(CASE WHEN prio = '{p}' THEN 1 ELSE 0 END) AS n{i},
             SUM(CASE WHEN prio = '{p}' THEN CAST(y AS DECIMAL(38,0))
                      ELSE 0 END) AS s{i},
             SUM(CASE WHEN prio = '{p}' THEN CAST(y AS DECIMAL(19,0))
                      * CAST(y AS DECIMAL(19,0)) ELSE 0 END) AS q{i}"""
        for i, p in enumerate(_PRIOS)
    )
    ntot = " + ".join(f"n{i}" for i in range(5))
    stot = " + ".join(f"CAST(s{i} AS DOUBLE)" for i in range(5))
    qtot = " + ".join(f"CAST(q{i} AS DOUBLE)" for i in range(5))
    ssb = " + ".join(
        f"CAST(s{i} AS DOUBLE) * CAST(s{i} AS DOUBLE) / n{i}" for i in range(5)
    )
    sn2 = " + ".join(f"CAST(n{i} AS DOUBLE) * n{i}" for i in range(5))
    return f"""
    WITH vals AS (
      SELECT o_orderpriority AS prio,
             CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS y
      FROM orders
    ),
    piv AS (SELECT {gm} FROM vals),
    c AS (
      SELECT ({ntot}) AS n,
             (({ssb}) - ({stot}) * ({stot}) / ({ntot})) / 4.0 AS msb,
             (({qtot}) - ({ssb})) / (({ntot}) - 5) AS msw,
             (({ntot}) - ({sn2}) / ({ntot})) / 4.0 AS n0
      FROM piv
    )
    SELECT CAST(n AS BIGINT) AS n_orders,
           msb AS ms_between,
           msw AS ms_within,
           round((msb - msw) / (msb + (n0 - 1) * msw), 9) AS icc1
    FROM c
    """


@_q("intraclass_correlation", _icc_sql())
def q_intraclass_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    vals = t(spark, sf_dir, "orders").select(
        F.col("o_orderpriority").alias("prio"),
        (F.col("o_totalprice").cast("decimal(18,2)") * 100)
        .cast("bigint")
        .alias("y"),
    )
    d19 = "decimal(19,0)"
    aggs = []
    for i, p in enumerate(_PRIOS):
        is_p = F.col("prio") == p
        aggs += [
            F.sum(F.when(is_p, 1).otherwise(0)).alias(f"n{i}"),
            F.sum(
                F.when(is_p, F.col("y").cast("decimal(38,0)")).otherwise(
                    F.lit(0).cast("decimal(38,0)")
                )
            ).alias(f"s{i}"),
            F.sum(
                F.when(is_p, F.col("y").cast(d19) * F.col("y").cast(d19)).otherwise(
                    F.lit(0).cast("decimal(38,0)")
                )
            ).alias(f"q{i}"),
        ]
    piv = vals.agg(*aggs)
    ntot = sum(F.col(f"n{i}") for i in range(5))
    stot = None
    qtot = None
    ssb = None
    sn2 = None
    for i in range(5):
        s = F.col(f"s{i}").cast("double")
        q = F.col(f"q{i}").cast("double")
        nd = F.col(f"n{i}").cast("double")
        stot = s if stot is None else stot + s
        qtot = q if qtot is None else qtot + q
        b = s * s / F.col(f"n{i}")
        ssb = b if ssb is None else ssb + b
        z = nd * F.col(f"n{i}")
        sn2 = z if sn2 is None else sn2 + z
    msb = (ssb - stot * stot / ntot) / F.lit(4.0)
    msw = (qtot - ssb) / (ntot - 5)
    n0 = (ntot - sn2 / ntot) / F.lit(4.0)
    return piv.select(
        ntot.cast("bigint").alias("n_orders"),
        msb.alias("ms_between"),
        msw.alias("ms_within"),
        F.round((msb - msw) / (msb + (n0 - 1) * msw), 9).alias("icc1"),
    )


# ---------------------------------------------------------------------------
# Tukey HSD pairwise statistics across the 5 priorities: studentized
# q = (m_i - m_j) / sqrt(MSW/2 (1/n_i + 1/n_j)) for all 10 ordered
# pairs, from the same exact per-group moments (a 5-row moment table
# self-joined — scale-free).
@_q(
    "tukey_hsd_statistics",
    """
    WITH vals AS (
      SELECT o_orderpriority AS prio,
             CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS y
      FROM orders
    ),
    g AS (
      SELECT prio, COUNT(*) AS n,
             SUM(CAST(y AS DECIMAL(38,0))) AS s,
             SUM(CAST(y AS DECIMAL(19,0)) * CAST(y AS DECIMAL(19,0))) AS q
      FROM vals GROUP BY prio
    ),
    msw AS (
      SELECT (SUM(CAST(q AS DOUBLE)) - SUM(CAST(s AS DOUBLE) * s / n))
             / (SUM(n) - 5) AS w
      FROM g
    )
    SELECT a.prio AS prio_a, b.prio AS prio_b,
           round(CAST(a.s AS DOUBLE) / a.n - CAST(b.s AS DOUBLE) / b.n, 6)
             AS mean_diff_cents,
           round((CAST(a.s AS DOUBLE) / a.n - CAST(b.s AS DOUBLE) / b.n)
                 / sqrt(w / 2 * (1.0 / a.n + 1.0 / b.n)), 6) AS q_statistic
    FROM g a JOIN g b ON a.prio < b.prio, msw
    ORDER BY prio_a, prio_b
    """,
)
def q_tukey_hsd_statistics(spark: SparkSession, sf_dir: str) -> DataFrame:
    vals = t(spark, sf_dir, "orders").select(
        F.col("o_orderpriority").alias("prio"),
        (F.col("o_totalprice").cast("decimal(18,2)") * 100)
        .cast("bigint")
        .alias("y"),
    )
    d19 = "decimal(19,0)"
    g = vals.groupBy("prio").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("y").cast("decimal(38,0)")).alias("s"),
        F.sum(F.col("y").cast(d19) * F.col("y").cast(d19)).alias("q"),
    )
    msw = g.agg(
        (
            (
                F.sum(F.col("q").cast("double"))
                - F.sum(F.col("s").cast("double") * F.col("s") / F.col("n"))
            )
            / (F.sum("n") - 5)
        ).alias("w")
    )
    a = g.select(
        F.col("prio").alias("prio_a"), F.col("n").alias("na"), F.col("s").alias("sa")
    )
    b = g.select(
        F.col("prio").alias("prio_b"), F.col("n").alias("nb"), F.col("s").alias("sb")
    )
    md = F.col("sa").cast("double") / F.col("na") - F.col("sb").cast(
        "double"
    ) / F.col("nb")
    return (
        a.join(b, F.col("prio_a") < F.col("prio_b"))
        .crossJoin(F.broadcast(msw))
        .select(
            "prio_a",
            "prio_b",
            F.round(md, 6).alias("mean_diff_cents"),
            F.round(
                md
                / F.sqrt(
                    F.col("w") / 2 * (1.0 / F.col("na") + 1.0 / F.col("nb"))
                ),
                6,
            ).alias("q_statistic"),
        )
        .orderBy("prio_a", "prio_b")
    )


# ---------------------------------------------------------------------------
# Join-count statistics (BB/WW/BW) over the occupied cells of the
# event LCG grid, rook adjacency, colored by an md5 bit of the cell
# coordinate (a null-calibrated fixture: the median-count binarization
# degenerates on sparse grids where no cell exceeds the median, and a
# hash coloring keeps pb ~ 0.5 at every SF). Adjacency is an equi-join
# on shifted coordinates (never all-pairs); the z-score uses the
# free-sampling binomial approximation (documented — both engines
# evaluate the identical closed form).
@_q(
    "join_count_statistics",
    """
    WITH pts AS (
      SELECT ((event_id * 48271) % 2147483647) % 256 AS px,
             (((event_id * 48271) % 2147483647) // 256) % 256 AS py,
             COUNT(*) AS m
      FROM events GROUP BY 1, 2
    ),
    cells AS (
      SELECT px, py,
             CAST(('0x' || substring(md5(CAST(px * 1000 + py AS VARCHAR)),
                                     5, 1)) AS INTEGER) % 2 AS black
      FROM pts
    ),
    adj AS (
      SELECT a.black AS ba, b.black AS bb
      FROM cells a JOIN cells b ON b.px = a.px + 1 AND b.py = a.py
      UNION ALL
      SELECT a.black AS ba, b.black AS bb
      FROM cells a JOIN cells b ON b.px = a.px AND b.py = a.py + 1
    ),
    counts AS (
      SELECT COUNT(*) AS j,
             SUM(CASE WHEN ba = 1 AND bb = 1 THEN 1 ELSE 0 END) AS bb,
             SUM(CASE WHEN ba = 0 AND bb = 0 THEN 1 ELSE 0 END) AS ww,
             SUM(CASE WHEN ba <> bb THEN 1 ELSE 0 END) AS bw
      FROM adj
    ),
    frac AS (
      SELECT (SELECT CAST(SUM(black) AS DOUBLE) / COUNT(*) FROM cells) AS pb,
             j, bb, ww, bw
      FROM counts
    )
    SELECT CAST(j AS BIGINT) AS n_adjacencies,
           CAST(bb AS BIGINT) AS bb, CAST(ww AS BIGINT) AS ww,
           CAST(bw AS BIGINT) AS bw,
           round(2.0 * j * pb * (1 - pb), 6) AS bw_expected,
           round((bw - 2.0 * j * pb * (1 - pb))
                 / sqrt(2.0 * j * pb * (1 - pb)
                        * (1 - 2.0 * pb * (1 - pb))), 6) AS bw_z_free
    FROM frac
    """,
)
def q_join_count_statistics(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events")
    lcg = (F.col("event_id") * 48271) % 2147483647
    pts = ev.groupBy(
        (lcg % 256).alias("px"), ((lcg / 256).cast("bigint") % 256).alias("py")
    ).agg(F.count(F.lit(1)).alias("m"))
    cells = pts.select(
        "px",
        "py",
        (
            F.conv(
                F.substring(
                    F.md5((F.col("px") * 1000 + F.col("py")).cast("string")), 5, 1
                ),
                16,
                10,
            ).cast("int")
            % 2
        ).alias("black"),
    ).localCheckpoint(eager=True)
    a = cells.select(
        F.col("px").alias("ax"), F.col("py").alias("ay"), F.col("black").alias("ba")
    )
    b = cells.select(
        F.col("px").alias("bx"), F.col("py").alias("by"), F.col("black").alias("bb")
    )
    # two EQUI-joins, not one OR-join: the disjunction forces a nested
    #-loop cross product (measured 22x at 10x data before this fix)
    adj = a.join(
        b, (F.col("bx") == F.col("ax") + 1) & (F.col("by") == F.col("ay"))
    ).unionByName(
        a.join(b, (F.col("bx") == F.col("ax")) & (F.col("by") == F.col("ay") + 1))
    ).select("ba", "bb")
    counts = adj.agg(
        F.count(F.lit(1)).alias("j"),
        F.sum(F.when((F.col("ba") == 1) & (F.col("bb") == 1), 1).otherwise(0)).alias(
            "bb"
        ),
        F.sum(F.when((F.col("ba") == 0) & (F.col("bb") == 0), 1).otherwise(0)).alias(
            "ww"
        ),
        F.sum(F.when(F.col("ba") != F.col("bb"), 1).otherwise(0)).alias("bw"),
    )
    pbx = cells.agg(
        (F.sum("black").cast("double") / F.count(F.lit(1))).alias("pb")
    )
    out = counts.crossJoin(F.broadcast(pbx))
    e = 2.0 * F.col("j") * F.col("pb") * (1 - F.col("pb"))
    return out.select(
        F.col("j").cast("bigint").alias("n_adjacencies"),
        F.col("bb").cast("bigint").alias("bb"),
        F.col("ww").cast("bigint").alias("ww"),
        F.col("bw").cast("bigint").alias("bw"),
        F.round(e, 6).alias("bw_expected"),
        F.round(
            (F.col("bw") - e)
            / F.sqrt(e * (1 - 2.0 * F.col("pb") * (1 - F.col("pb")))),
            6,
        ).alias("bw_z_free"),
    )


# ---------------------------------------------------------------------------
# Page's trend test for the ordered weekday hypothesis over complete
# calendar weeks: within-block ranks (ties broken by weekday for
# determinism), L = sum of j * R_j, closed-form normal approximation.
# All-integer until z.
@_q(
    "page_trend_test",
    f"""
    WITH daily AS ({_SQL_DAILY}),
    wk AS (
      SELECT CAST(d AS DATE) - CAST(isodow(d) - 1 AS INTEGER) AS blk, isodow(d) - 1 AS wd, y FROM daily
    ),
    complete AS (
      SELECT blk FROM wk GROUP BY blk HAVING COUNT(DISTINCT wd) = 7
    ),
    ranked AS (
      SELECT w.blk, w.wd,
             row_number() OVER (PARTITION BY w.blk ORDER BY w.y, w.wd) AS r
      FROM wk w JOIN complete c ON w.blk = c.blk
    ),
    rsum AS (SELECT wd, SUM(r) AS rj FROM ranked GROUP BY wd),
    bcount AS (SELECT COUNT(*) AS b FROM complete),
    l AS (SELECT SUM((wd + 1) * rj) AS lstat FROM rsum)
    SELECT CAST(b AS BIGINT) AS n_blocks,
           CAST(lstat AS BIGINT) AS page_l,
           round((lstat - 112.0 * b) / sqrt(18816.0 * b / 144), 9) AS z_score
    FROM l, bcount
    """,
)
def q_page_trend_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    daily = _daily_cents(spark, sf_dir)
    wk = daily.select(
        F.expr("date_sub(d, weekday(d))").alias("blk"),
        F.expr("weekday(d)").alias("wd"),
        "y",
    )
    complete = wk.groupBy("blk").agg(
        F.countDistinct("wd").alias("k")
    ).where(F.col("k") == 7).select("blk")
    ranked = wk.join(complete, "blk").select(
        "wd",
        F.row_number()
        .over(Window.partitionBy("blk").orderBy("y", "wd"))
        .alias("r"),
    )
    rsum = ranked.groupBy("wd").agg(F.sum("r").alias("rj"))
    bcount = complete.agg(F.count(F.lit(1)).alias("b"))
    lstat = rsum.agg(F.sum((F.col("wd") + 1) * F.col("rj")).alias("lstat"))
    out = lstat.crossJoin(F.broadcast(bcount))
    return out.select(
        F.col("b").cast("bigint").alias("n_blocks"),
        F.col("lstat").cast("bigint").alias("page_l"),
        F.round(
            (F.col("lstat") - 112.0 * F.col("b"))
            / F.sqrt(18816.0 * F.col("b") / 144),
            9,
        ).alias("z_score"),
    )


# ---------------------------------------------------------------------------
# Cochran's Q test for equality of the three binary "engagement"
# conditions (has click / view / purchase within the first week of
# the month — time-restricted so the condition vectors vary) across
# users. Rows with
# all-zero or all-one condition vectors contribute nothing to either
# side of Q, so no subject filter is needed; everything is exact
# integer counting: Q = (k-1)[k*sum(Cj^2) - (sum Cj)^2] / [k*sum(Ru)
# - sum(Ru^2)].
@_q(
    "cochran_q_test",
    """
    WITH flags AS (
      SELECT user_id,
             MAX(CASE WHEN event_type = 'click' AND day(ts) <= 7
                      THEN 1 ELSE 0 END) AS x1,
             MAX(CASE WHEN event_type = 'view' AND day(ts) <= 7
                      THEN 1 ELSE 0 END) AS x2,
             MAX(CASE WHEN event_type = 'purchase' AND day(ts) <= 7
                      THEN 1 ELSE 0 END) AS x3
      FROM events GROUP BY user_id
    ),
    agg AS (
      SELECT COUNT(*) AS n,
             SUM(x1) AS c1, SUM(x2) AS c2, SUM(x3) AS c3,
             SUM(x1 + x2 + x3) AS sr,
             SUM((x1 + x2 + x3) * (x1 + x2 + x3)) AS sr2
      FROM flags
    )
    SELECT CAST(n AS BIGINT) AS n_users,
           CAST(c1 AS BIGINT) AS n_click,
           CAST(c2 AS BIGINT) AS n_view,
           CAST(c3 AS BIGINT) AS n_purchase,
           round(2.0 * (3 * (CAST(c1 AS DOUBLE)*c1 + CAST(c2 AS DOUBLE)*c2
                             + CAST(c3 AS DOUBLE)*c3)
                        - CAST(sr AS DOUBLE) * sr)
                 / (3.0 * sr - sr2), 9) AS cochran_q
    FROM agg
    """,
)
def q_cochran_q_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events")
    flags = ev.groupBy("user_id").agg(
        F.max(
            F.when(
                (F.col("event_type") == "click") & (F.dayofmonth("ts") <= 7), 1
            ).otherwise(0)
        ).alias("x1"),
        F.max(
            F.when(
                (F.col("event_type") == "view") & (F.dayofmonth("ts") <= 7), 1
            ).otherwise(0)
        ).alias("x2"),
        F.max(
            F.when(
                (F.col("event_type") == "purchase") & (F.dayofmonth("ts") <= 7), 1
            ).otherwise(0)
        ).alias("x3"),
    )
    r = F.col("x1") + F.col("x2") + F.col("x3")
    agg = flags.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x1").alias("c1"),
        F.sum("x2").alias("c2"),
        F.sum("x3").alias("c3"),
        F.sum(r).alias("sr"),
        F.sum(r * r).alias("sr2"),
    )
    return agg.select(
        F.col("n").cast("bigint").alias("n_users"),
        F.col("c1").cast("bigint").alias("n_click"),
        F.col("c2").cast("bigint").alias("n_view"),
        F.col("c3").cast("bigint").alias("n_purchase"),
        F.round(
            2.0
            * (
                3
                * (
                    F.col("c1").cast("double") * F.col("c1")
                    + F.col("c2").cast("double") * F.col("c2")
                    + F.col("c3").cast("double") * F.col("c3")
                )
                - F.col("sr").cast("double") * F.col("sr")
            )
            / (3.0 * F.col("sr") - F.col("sr2")),
            9,
        ).alias("cochran_q"),
    )


# ---------------------------------------------------------------------------
# Welch-style magnitude-squared coherence between the daily order-count
# and revenue series at the shared DFT periods, averaged over 8
# contiguous segments (single-bin coherence without averaging is
# identically 1 — the segmentation is what makes the statistic
# informative). Per-(period, segment) C/S sums use the dft 6dp-lattice
# decimal seam; the 8 segment cross/auto products assemble in fixed
# order from a conditional pivot.
_COH_PERIODS = (7, 14, 30)
_COH_SEGS = 8


def _coh_sql() -> str:
    piv = ",\n             ".join(
        f"""SUM(CASE WHEN seg = {s} THEN cx ELSE 0 END) AS cx{s},
             SUM(CASE WHEN seg = {s} THEN sx ELSE 0 END) AS sx{s},
             SUM(CASE WHEN seg = {s} THEN cy ELSE 0 END) AS cy{s},
             SUM(CASE WHEN seg = {s} THEN sy ELSE 0 END) AS sy{s}"""
        for s in range(_COH_SEGS)
    )
    cre = " + ".join(f"(cx{s} * cy{s} + sx{s} * sy{s})" for s in range(_COH_SEGS))
    cim = " + ".join(f"(sx{s} * cy{s} - cx{s} * sy{s})" for s in range(_COH_SEGS))
    axx = " + ".join(f"(cx{s} * cx{s} + sx{s} * sx{s})" for s in range(_COH_SEGS))
    ayy = " + ".join(f"(cy{s} * cy{s} + sy{s} * sy{s})" for s in range(_COH_SEGS))
    return f"""
    WITH daily AS (
      SELECT o_orderdate AS d,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT) AS y,
             COUNT(*) AS x
      FROM orders GROUP BY 1
    ),
    idx AS (
      SELECT row_number() OVER (ORDER BY d) AS i,
             COUNT(*) OVER () AS n, x, y
      FROM daily
    ),
    terms AS (
      SELECT p.p, CAST(((i - 1) * {_COH_SEGS}) // n AS INTEGER) AS seg,
             CAST(round(x * cos(2 * pi() * i / p.p), 6) AS DECIMAL(38,6)) AS cxt,
             CAST(round(x * sin(2 * pi() * i / p.p), 6) AS DECIMAL(38,6)) AS sxt,
             CAST(round(y * cos(2 * pi() * i / p.p), 6) AS DECIMAL(38,6)) AS cyt,
             CAST(round(y * sin(2 * pi() * i / p.p), 6) AS DECIMAL(38,6)) AS syt
      FROM idx, (VALUES {", ".join(f"({p})" for p in _COH_PERIODS)}) p(p)
    ),
    per_seg AS (
      SELECT p, seg,
             CAST(SUM(cxt) AS DOUBLE) AS cx, CAST(SUM(sxt) AS DOUBLE) AS sx,
             CAST(SUM(cyt) AS DOUBLE) AS cy, CAST(SUM(syt) AS DOUBLE) AS sy
      FROM terms GROUP BY p, seg
    ),
    piv AS (
      SELECT p,
             {piv}
      FROM per_seg GROUP BY p
    )
    SELECT CAST(p AS BIGINT) AS period,
           round((({cre}) * ({cre}) + ({cim}) * ({cim}))
                 / (({axx}) * ({ayy})), 9) AS coherence_sq
    FROM piv ORDER BY period
    """


@_q("spectral_coherence", _coh_sql())
def q_spectral_coherence(spark: SparkSession, sf_dir: str) -> DataFrame:
    import math

    daily = (
        t(spark, sf_dir, "orders")
        .groupBy(F.col("o_orderdate").alias("d"))
        .agg(
            (F.sum(F.col("o_totalprice").cast("decimal(18,2)")) * 100)
            .cast("bigint")
            .alias("y"),
            F.count(F.lit(1)).alias("x"),
        )
    )
    idx = daily.select(
        F.row_number().over(Window.orderBy("d")).alias("i"), "x", "y"
    ).withColumn("n", F.count(F.lit(1)).over(Window.partitionBy()))
    periods = spark.createDataFrame([(p,) for p in _COH_PERIODS], "p int")
    ang = 2 * math.pi * F.col("i") / F.col("p")
    terms = idx.crossJoin(F.broadcast(periods)).select(
        "p",
        F.floor((F.col("i") - 1) * _COH_SEGS / F.col("n")).cast("int").alias("seg"),
        F.round(F.col("x") * F.cos(ang), 6).cast("decimal(38,6)").alias("cxt"),
        F.round(F.col("x") * F.sin(ang), 6).cast("decimal(38,6)").alias("sxt"),
        F.round(F.col("y") * F.cos(ang), 6).cast("decimal(38,6)").alias("cyt"),
        F.round(F.col("y") * F.sin(ang), 6).cast("decimal(38,6)").alias("syt"),
    )
    per_seg = terms.groupBy("p", "seg").agg(
        F.sum("cxt").cast("double").alias("cx"),
        F.sum("sxt").cast("double").alias("sx"),
        F.sum("cyt").cast("double").alias("cy"),
        F.sum("syt").cast("double").alias("sy"),
    )
    piv = per_seg.groupBy("p").agg(
        *[
            agg
            for s in range(_COH_SEGS)
            for agg in (
                F.sum(F.when(F.col("seg") == s, F.col("cx")).otherwise(0.0)).alias(
                    f"cx{s}"
                ),
                F.sum(F.when(F.col("seg") == s, F.col("sx")).otherwise(0.0)).alias(
                    f"sx{s}"
                ),
                F.sum(F.when(F.col("seg") == s, F.col("cy")).otherwise(0.0)).alias(
                    f"cy{s}"
                ),
                F.sum(F.when(F.col("seg") == s, F.col("sy")).otherwise(0.0)).alias(
                    f"sy{s}"
                ),
            )
        ]
    )
    cre = cim = axx = ayy = None
    for s in range(_COH_SEGS):
        cx, sx = F.col(f"cx{s}"), F.col(f"sx{s}")
        cy, sy = F.col(f"cy{s}"), F.col(f"sy{s}")
        t1 = cx * cy + sx * sy
        t2 = sx * cy - cx * sy
        t3 = cx * cx + sx * sx
        t4 = cy * cy + sy * sy
        cre = t1 if cre is None else cre + t1
        cim = t2 if cim is None else cim + t2
        axx = t3 if axx is None else axx + t3
        ayy = t4 if ayy is None else ayy + t4
    return piv.select(
        F.col("p").cast("bigint").alias("period"),
        F.round((cre * cre + cim * cim) / (axx * ayy), 9).alias("coherence_sq"),
    ).orderBy("period")


# ---------------------------------------------------------------------------
# Circular statistics of the order weekday distribution: resultant
# length, mean direction and circular variance from the 7 weekday
# counts (exact integers) times the 7 fixed unit vectors, assembled in
# fixed weekday order.
@_q(
    "circular_weekday_stats",
    f"""
    WITH wd AS (
      SELECT isodow(o_orderdate) - 1 AS w, COUNT(*) AS c
      FROM orders GROUP BY 1
    ),
    piv AS (
      SELECT {", ".join(
        f"SUM(CASE WHEN w = {w} THEN c ELSE 0 END) AS c{w}" for w in range(7))}
      FROM wd
    ),
    v AS (
      SELECT ({" + ".join(f"c{w}" for w in range(7))}) AS n,
             ({" + ".join(f"c{w} * cos(2 * pi() * {w} / 7)" for w in range(7))})
               AS sc,
             ({" + ".join(f"c{w} * sin(2 * pi() * {w} / 7)" for w in range(7))})
               AS ss
      FROM piv
    )
    SELECT CAST(n AS BIGINT) AS n_orders,
           round(sqrt(sc * sc + ss * ss) / n, 9) AS resultant_length,
           round(degrees(atan2(ss, sc)), 9) AS mean_direction_deg,
           round(1 - sqrt(sc * sc + ss * ss) / n, 9) AS circular_variance
    FROM v
    """,
)
def q_circular_weekday_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    import math

    wd = (
        t(spark, sf_dir, "orders")
        .groupBy(F.expr("weekday(o_orderdate)").alias("w"))
        .agg(F.count(F.lit(1)).alias("c"))
    )
    piv = wd.agg(
        *[
            F.sum(F.when(F.col("w") == w, F.col("c")).otherwise(0)).alias(f"c{w}")
            for w in range(7)
        ]
    )
    n = sum(F.col(f"c{w}") for w in range(7))
    sc = ss = None
    for w in range(7):
        tc = F.col(f"c{w}") * math.cos(2 * math.pi * w / 7)
        ts = F.col(f"c{w}") * math.sin(2 * math.pi * w / 7)
        sc = tc if sc is None else sc + tc
        ss = ts if ss is None else ss + ts
    return piv.select(
        n.cast("bigint").alias("n_orders"),
        F.round(F.sqrt(sc * sc + ss * ss) / n, 9).alias("resultant_length"),
        F.round(F.degrees(F.atan2(ss, sc)), 9).alias("mean_direction_deg"),
        F.round(1 - F.sqrt(sc * sc + ss * ss) / n, 9).alias("circular_variance"),
    )


# ---------------------------------------------------------------------------
# Jonckheere-Terpstra test for the ORDERED alternative across the 5
# priorities (urgent < ... < low): J = sum of between-group
# Mann-Whitney counts for every ordered pair. The value stream reduces
# to per-DISTINCT-value per-group counts (the KS pattern), cumulative
# counts run over the distinct-value spine, and 2J stays an exact
# BIGINT (ties contribute the half-integer c_i*c_j, doubled away).
# z uses the ties-ignored JT variance (identical closed form in both
# engines, documented).
def _jt_sql() -> str:
    cnts = ", ".join(
        f"SUM(CASE WHEN prio = '{p}' THEN 1 ELSE 0 END) AS c{i}"
        for i, p in enumerate(_PRIOS)
    )
    cums = ", ".join(
        f"SUM(c{i}) OVER (ORDER BY y) - c{i} AS lt{i}" for i in range(5)
    )
    j2_terms = " + ".join(
        f"(2 * c{j} * lt{i} + c{i} * c{j})"
        for i in range(5)
        for j in range(i + 1, 5)
    )
    n2sum = " + ".join(
        f"CAST(n{i} AS DOUBLE) * n{i} * (2 * n{i} + 3)" for i in range(5)
    )
    nsum = " + ".join(f"n{i}" for i in range(5))
    gn = ", ".join(
        f"SUM(CASE WHEN prio = '{p}' THEN 1 ELSE 0 END) AS n{i}"
        for i, p in enumerate(_PRIOS)
    )
    return f"""
    WITH vals AS (
      SELECT o_orderpriority AS prio,
             CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS y
      FROM orders
    ),
    per_v AS (
      SELECT y, {cnts}
      FROM vals GROUP BY y
    ),
    cum AS (
      SELECT y, c0, c1, c2, c3, c4, {cums}
      FROM per_v
    ),
    jstat AS (SELECT SUM({j2_terms}) AS j2 FROM cum),
    sizes AS (SELECT {gn} FROM vals),
    z AS (
      SELECT j2,
             ({nsum}) AS nn,
             ({n2sum}) AS n2s
      FROM jstat, sizes
    )
    SELECT CAST(j2 AS BIGINT) AS j2_statistic,
           CAST(nn AS BIGINT) AS n_orders,
           round((j2 / 2.0 - (CAST(nn AS DOUBLE) * nn
                              - (SELECT {" + ".join(
                                  f"CAST(n{i} AS DOUBLE) * n{i}"
                                  for i in range(5))} FROM sizes)) / 4)
                 / sqrt((CAST(nn AS DOUBLE) * nn * (2 * nn + 3) - n2s)
                        / 72), 9) AS z_score
    FROM z
    """


@_q("jonckheere_terpstra_trend", _jt_sql())
def q_jonckheere_terpstra_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    vals = t(spark, sf_dir, "orders").select(
        F.col("o_orderpriority").alias("prio"),
        (F.col("o_totalprice").cast("decimal(18,2)") * 100)
        .cast("bigint")
        .alias("y"),
    )
    per_v = vals.groupBy("y").agg(
        *[
            F.sum(F.when(F.col("prio") == p, 1).otherwise(0)).alias(f"c{i}")
            for i, p in enumerate(_PRIOS)
        ]
    )
    w = Window.orderBy("y")
    cum = per_v.select(
        "y",
        *[F.col(f"c{i}") for i in range(5)],
        *[
            (F.sum(f"c{i}").over(w) - F.col(f"c{i}")).alias(f"lt{i}")
            for i in range(5)
        ],
    )
    j2_expr = None
    for i in range(5):
        for j in range(i + 1, 5):
            term = 2 * F.col(f"c{j}") * F.col(f"lt{i}") + F.col(f"c{i}") * F.col(
                f"c{j}"
            )
            j2_expr = term if j2_expr is None else j2_expr + term
    jstat = cum.agg(F.sum(j2_expr).alias("j2"))
    sizes = vals.agg(
        *[
            F.sum(F.when(F.col("prio") == p, 1).otherwise(0)).alias(f"n{i}")
            for i, p in enumerate(_PRIOS)
        ]
    )
    out = jstat.crossJoin(F.broadcast(sizes))
    nn = sum(F.col(f"n{i}") for i in range(5))
    n2lin = None
    n2cub = None
    for i in range(5):
        nd = F.col(f"n{i}").cast("double")
        a = nd * F.col(f"n{i}")
        b = nd * F.col(f"n{i}") * (2 * F.col(f"n{i}") + 3)
        n2lin = a if n2lin is None else n2lin + a
        n2cub = b if n2cub is None else n2cub + b
    mean_j = (nn.cast("double") * nn - n2lin) / 4
    var_j = (nn.cast("double") * nn * (2 * nn + 3) - n2cub) / 72
    return out.select(
        F.col("j2").cast("bigint").alias("j2_statistic"),
        nn.cast("bigint").alias("n_orders"),
        F.round((F.col("j2") / 2.0 - mean_j) / F.sqrt(var_j), 9).alias("z_score"),
    )


# ---------------------------------------------------------------------------
# Cliff's delta ordinal effect size between BUILDING and MACHINERY
# order totals: delta = (#(x>y) - #(x<y)) / (n1*n2), computed entirely
# from per-distinct-value cumulative counts — exact integers, one
# final division (the nonparametric effect-size companion to the
# registry's mann_whitney_u).
@_q(
    "cliffs_delta_effect",
    """
    WITH vals AS (
      SELECT o.o_totalprice AS v, c.c_mktsegment AS seg
      FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
      WHERE c.c_mktsegment IN ('BUILDING', 'MACHINERY')
    ),
    per_v AS (
      SELECT v,
             COUNT(*) FILTER (seg = 'BUILDING') AS c1,
             COUNT(*) FILTER (seg = 'MACHINERY') AS c2
      FROM vals GROUP BY v
    ),
    cum AS (
      SELECT c1, c2,
             SUM(c1) OVER (ORDER BY v) - c1 AS lt1,
             SUM(c2) OVER (ORDER BY v) - c2 AS lt2
      FROM per_v
    ),
    agg AS (
      SELECT SUM(c1 * lt2) AS gt, SUM(c2 * lt1) AS lt,
             SUM(c1) AS n1, SUM(c2) AS n2
      FROM cum
    )
    SELECT CAST(n1 AS BIGINT) AS n_building,
           CAST(n2 AS BIGINT) AS n_machinery,
           CAST(gt AS BIGINT) AS n_greater,
           CAST(lt AS BIGINT) AS n_less,
           round((CAST(gt AS DOUBLE) - lt)
                 / (CAST(n1 AS DOUBLE) * n2), 9) AS cliffs_delta
    FROM agg
    """,
)
def q_cliffs_delta_effect(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = t(spark, sf_dir, "orders")
    cust = t(spark, sf_dir, "customer").where(
        F.col("c_mktsegment").isin("BUILDING", "MACHINERY")
    )
    vals = orders.join(cust, orders.o_custkey == cust.c_custkey).select(
        F.col("o_totalprice").alias("v"), F.col("c_mktsegment").alias("seg")
    )
    per_v = vals.groupBy("v").agg(
        F.sum(F.when(F.col("seg") == "BUILDING", 1).otherwise(0)).alias("c1"),
        F.sum(F.when(F.col("seg") == "MACHINERY", 1).otherwise(0)).alias("c2"),
    )
    w = Window.orderBy("v")
    cum = per_v.select(
        "c1",
        "c2",
        (F.sum("c1").over(w) - F.col("c1")).alias("lt1"),
        (F.sum("c2").over(w) - F.col("c2")).alias("lt2"),
    )
    agg = cum.agg(
        F.sum(F.col("c1") * F.col("lt2")).alias("gt"),
        F.sum(F.col("c2") * F.col("lt1")).alias("lt"),
        F.sum("c1").alias("n1"),
        F.sum("c2").alias("n2"),
    )
    return agg.select(
        F.col("n1").cast("bigint").alias("n_building"),
        F.col("n2").cast("bigint").alias("n_machinery"),
        F.col("gt").cast("bigint").alias("n_greater"),
        F.col("lt").cast("bigint").alias("n_less"),
        F.round(
            (F.col("gt").cast("double") - F.col("lt"))
            / (F.col("n1").cast("double") * F.col("n2")),
            9,
        ).alias("cliffs_delta"),
    )
