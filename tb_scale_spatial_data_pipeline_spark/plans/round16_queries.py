"""Round-16 operator tier (39 queries, all oracle-paired):
irregular-sampling spectral analysis (Lomb-Scargle, cepstrum),
stability/fractal/long-memory statistics (Allan, Higuchi, DFA),
serial-correlation-robust econometrics (Newey-West HAC,
Phillips-Perron, Cochrane-Orcutt, variance ratio), exact Bayesian A/B,
dependence/drift measures (energy distance, Bhattacharyya, distance
correlation, Hoeffding's D, tail dependence, ordinal association),
discrete Fréchet profile distance, Weisfeiler-Leman graph refinement,
geographically weighted regression, Platt calibration, Soundex
phonetic blocking, the classical test battery (Brunner-Munzel,
Fligner-Killeen, Quade, D'Agostino K², Welch ANOVA, Mood median,
Ansari-Bradley, Kuiper, Shapiro-Francia, turning point), changepoint
and outlier scans (two-break segmentation, MOSUM, Mahalanobis,
recurrence quantification), and forecast/experiment evaluation (CRPS,
QTE, SRM, E-value) — capabilities the 592-query registry did not yet
cover.

Determinism strategy (house seam, see round15_queries): order-sensitive
float reductions run either on exact INTEGER/DECIMAL lattices (daily
cents, mean-cleared n·y − S integer forms, 6/12-dp rounded
transcendental terms summed in DECIMAL(38,12)) or as small fixed-arity
pivots assembled in one left-associated expression identical in both
engines. Residual-based statistics (HAC/PP/CO) avoid per-row float
residuals entirely: every autocovariance of OLS residuals expands into
EXACT integer cross-sums (Σy_t y_{t−j}, Σt y_{t−j}, …) assembled in a
fixed-order closed form — the Var(x − groupmean) algebra generalized
to lagged products.

Scale notes (100 TB): every query aggregates to a bounded spine first
(the ~2400-day order calendar, a ≤1000-row log-factorial table, 20
histogram bins, K ≤ 32 frequencies, 16-point per-user profiles, the
guarded/thinned co-supply edge set) — the only row-scaled stages are
single groupBy/agg passes with map-side partial aggregation; pairwise
work (energy distance, Fréchet DP, WL sorts) runs on spine-bounded
inputs whose size is constant in SF.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators.graphs import aggregate_messages, directed_edges
from ..operators.spread import broadcast_if_small, counted_checkpoint
from ._util import t, registry
from .graph_queries import _SQL_EDGES as _EDGES_CTE
from .graph_queries import _undirected_edges
from .round15_queries import _SQL_DAILY, _daily_cents

QUERIES, ORACLES, _q = registry()


# Shared: the day spine with a contiguous 1-based index rn (ordered by
# date) — constant-size (~2400 rows) at every SF.
_SQL_SPINE = f"""
    daily AS MATERIALIZED ({_SQL_DAILY}),
    spine AS MATERIALIZED (
      SELECT row_number() OVER (ORDER BY d) AS rn, y FROM daily
    )
"""


def _spine(spark: SparkSession, sf_dir: str) -> DataFrame:
    w = Window.orderBy("d")
    return _daily_cents(spark, sf_dir).select(
        F.row_number().over(w).alias("rn"), "y"
    )


# ---------------------------------------------------------------------------
# Allan variance / deviation — the clock-stability statistic: variance
# of consecutive non-overlapping bin means at averaging times tau,
# AVAR(tau) = E[(m_{k+1} - m_k)^2] / 2. Bin SUMS stay exact integers
# (cents), so AVAR(tau) = sum((S_{k+1}-S_k)^2) / (2*(K-1)*tau^2) is a
# ratio of exact aggregates; the reported relative Allan deviation
# sqrt(AVAR)/mean is one IEEE sqrt + division per tau (identical
# inputs -> identical doubles in both engines).
@_q(
    "allan_variance",
    f"""
    WITH {_SQL_SPINE},
    taus AS (SELECT unnest([1, 2, 4, 8, 16]) AS tau),
    bins AS (
      SELECT tau, (rn - 1) // tau AS k,
             CAST(SUM(CAST(y AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS s,
             COUNT(*) AS cnt
      FROM spine CROSS JOIN taus
      GROUP BY tau, (rn - 1) // tau
      HAVING COUNT(*) = tau
    ),
    steps AS (
      SELECT tau, s - lag(s) OVER (PARTITION BY tau ORDER BY k) AS ds
      FROM bins
    ),
    acc AS (
      SELECT tau,
             CAST(SUM(ds * ds) AS DECIMAL(38,0)) AS num,
             COUNT(ds) AS kk
      FROM steps WHERE ds IS NOT NULL GROUP BY tau
    ),
    m AS (
      SELECT CAST(SUM(CAST(y AS DECIMAL(38,0))) AS DOUBLE)
             / COUNT(*) AS mean_y
      FROM spine
    )
    SELECT CAST(tau AS INT) AS tau,
           CAST(kk + 1 AS BIGINT) AS n_bins,
           round(sqrt(CAST(num AS DOUBLE)
                      / (2.0 * kk * CAST(tau AS DOUBLE)
                         * CAST(tau AS DOUBLE)))
                 / (SELECT mean_y FROM m), 6) AS rel_adev
    FROM acc
    """,
)
def q_allan_variance(spark: SparkSession, sf_dir: str) -> DataFrame:
    spine = _spine(spark, sf_dir)
    taus = spark.range(5).select(
        F.expr("shiftleft(1, cast(id as int))").cast("int").alias("tau")
    )
    bins = (
        spine.crossJoin(F.broadcast(taus))
        .groupBy("tau", ((F.col("rn") - 1) / F.col("tau")).cast("bigint").alias("k"))
        .agg(
            F.sum(F.col("y").cast("decimal(38,0)")).cast("decimal(38,0)").alias("s"),
            F.count(F.lit(1)).alias("cnt"),
        )
        .where(F.col("cnt") == F.col("tau"))
    )
    wk = Window.partitionBy("tau").orderBy("k")
    steps = bins.select(
        "tau", (F.col("s") - F.lag("s").over(wk)).alias("ds")
    ).where(F.col("ds").isNotNull())
    acc = steps.groupBy("tau").agg(
        F.sum(F.col("ds") * F.col("ds")).cast("decimal(38,0)").alias("num"),
        F.count("ds").alias("kk"),
    )
    m = spine.agg(
        (
            F.sum(F.col("y").cast("decimal(38,0)")).cast("double")
            / F.count(F.lit(1))
        ).alias("mean_y")
    )
    return acc.crossJoin(F.broadcast(m)).select(
        F.col("tau").cast("int").alias("tau"),
        (F.col("kk") + 1).cast("bigint").alias("n_bins"),
        F.round(
            F.sqrt(
                F.col("num").cast("double")
                / (
                    2.0
                    * F.col("kk")
                    * F.col("tau").cast("double")
                    * F.col("tau").cast("double")
                )
            )
            / F.col("mean_y"),
            6,
        ).alias("rel_adev"),
    )


# ---------------------------------------------------------------------------
# Higuchi fractal dimension — curve-length estimate over decimated
# sub-series: for lag k and phase m, L_m(k) is an exact INTEGER sum of
# |y_{m+ik} - y_{m+(i-1)k}| with a rational normalization; D is the
# negated slope of the 8-point log-log regression. The per-(k,m) sums
# come from a single bounded spine self-join (rn2 = rn - k); the
# final 8-term OLS is a fixed-arity pivot (k enumerable), assembled in
# one identical expression.
@_q(
    "higuchi_fractal_dimension",
    f"""
    WITH {_SQL_SPINE},
    n AS (SELECT COUNT(*) AS n FROM spine),
    ks AS (SELECT unnest([1, 2, 3, 4, 5, 6, 7, 8]) AS k),
    diffs AS (
      SELECT ks.k, ((a.rn - 1) % ks.k) + 1 AS m,
             abs(a.y - b.y) AS ad
      FROM spine a
      CROSS JOIN ks
      JOIN spine b ON b.rn = a.rn - ks.k
    ),
    lm AS (
      SELECT k, m,
             CAST(SUM(CAST(ad AS DECIMAL(38,0))) AS DOUBLE) AS lsum,
             COUNT(*) AS cnt
      FROM diffs GROUP BY k, m
    ),
    lk AS (
      -- L(k) = mean over phases m of L_m(k); L_m(k) normalizes the
      -- integer path length by (n-1) / (cnt * k) and by 1/k again
      SELECT k,
             CAST(SUM(CAST(round(
               lsum * ((SELECT n FROM n) - 1)
                    / (CAST(cnt AS DOUBLE) * k * k), 6
             ) AS DECIMAL(38,6))) AS DOUBLE) / k AS l
      FROM lm GROUP BY k
    ),
    pts AS (SELECT ln(CAST(k AS DOUBLE)) AS x, ln(l) AS y FROM lk),
    ols AS (
      SELECT COUNT(*) AS np,
             CAST(SUM(CAST(round(x, 12) AS DECIMAL(38,12))) AS DOUBLE) AS sx,
             CAST(SUM(CAST(round(y, 12) AS DECIMAL(38,12))) AS DOUBLE) AS sy,
             CAST(SUM(CAST(round(x * x, 12) AS DECIMAL(38,12))) AS DOUBLE) AS sxx,
             CAST(SUM(CAST(round(x * y, 12) AS DECIMAL(38,12))) AS DOUBLE) AS sxy
      FROM pts
    )
    SELECT CAST(8 AS INT) AS k_max,
           round(-(np * sxy - sx * sy) / (np * sxx - sx * sx), 6)
             AS higuchi_d
    FROM ols
    """,
)
def q_higuchi_fractal_dimension(spark: SparkSession, sf_dir: str) -> DataFrame:
    spine = _spine(spark, sf_dir)
    n = spine.count()  # bounded: day spine, ~2400 rows at any SF
    ks = spark.range(1, 9).select(F.col("id").cast("int").alias("k"))
    b = spine.select(F.col("rn").alias("rn2"), F.col("y").alias("y2"))
    diffs = (
        spine.crossJoin(F.broadcast(ks))
        .join(b, F.col("rn2") == F.col("rn") - F.col("k"))
        .select(
            "k",
            (((F.col("rn") - 1) % F.col("k")) + 1).alias("m"),
            F.abs(F.col("y") - F.col("y2")).alias("ad"),
        )
    )
    lm = diffs.groupBy("k", "m").agg(
        F.sum(F.col("ad").cast("decimal(38,0)")).cast("double").alias("lsum"),
        F.count(F.lit(1)).alias("cnt"),
    )
    lk = lm.groupBy("k").agg(
        (
            F.sum(
                F.round(
                    F.col("lsum")
                    * F.lit(float(n - 1))
                    / (F.col("cnt").cast("double") * F.col("k") * F.col("k")),
                    6,
                ).cast("decimal(38,6)")
            ).cast("double")
            / F.col("k")
        ).alias("l")
    )
    pts = lk.select(
        F.log(F.col("k").cast("double")).alias("x"), F.log("l").alias("y")
    )
    ols = pts.agg(
        F.count(F.lit(1)).alias("np"),
        F.sum(F.round(F.col("x"), 12).cast("decimal(38,12)")).cast("double").alias("sx"),
        F.sum(F.round(F.col("y"), 12).cast("decimal(38,12)")).cast("double").alias("sy"),
        F.sum(F.round(F.col("x") * F.col("x"), 12).cast("decimal(38,12)"))
        .cast("double")
        .alias("sxx"),
        F.sum(F.round(F.col("x") * F.col("y"), 12).cast("decimal(38,12)"))
        .cast("double")
        .alias("sxy"),
    )
    return ols.select(
        F.lit(8).cast("int").alias("k_max"),
        F.round(
            -(F.col("np") * F.col("sxy") - F.col("sx") * F.col("sy"))
            / (F.col("np") * F.col("sxx") - F.col("sx") * F.col("sx")),
            6,
        ).alias("higuchi_d"),
    )


# ---------------------------------------------------------------------------
# Energy distance between the first and second half of the revenue
# series — the two-sample drift statistic E = 2·E|X−Y| − E|X−X'| −
# E|Y−Y'| (Székely & Rizzo). All three pairwise sums are EXACT integer
# aggregates over the bounded half-spines (~1200² pairs, constant in
# SF); the output is normalized by the overall mean so its magnitude
# stays O(1) for round(6).
@_q(
    "energy_distance_drift",
    f"""
    WITH {_SQL_SPINE},
    n AS (SELECT COUNT(*) AS n FROM spine),
    xs AS (SELECT y FROM spine WHERE rn <= (SELECT n // 2 FROM n)),
    ys AS (SELECT y FROM spine WHERE rn > (SELECT n // 2 FROM n)),
    cnts AS (SELECT (SELECT COUNT(*) FROM xs) AS nx,
                    (SELECT COUNT(*) FROM ys) AS ny),
    sxy AS (SELECT CAST(SUM(CAST(abs(a.y - b.y) AS DECIMAL(38,0)))
                   AS DECIMAL(38,0)) AS s
            FROM xs a CROSS JOIN ys b),
    sxx AS (SELECT CAST(2 * SUM(CAST(abs(a.y - b.y) AS DECIMAL(38,0)))
                   AS DECIMAL(38,0)) AS s
            FROM (SELECT y, row_number() OVER (ORDER BY y) AS i FROM xs) a
            JOIN (SELECT y, row_number() OVER (ORDER BY y) AS i FROM xs) b
              ON a.i < b.i),
    syy AS (SELECT CAST(2 * SUM(CAST(abs(a.y - b.y) AS DECIMAL(38,0)))
                   AS DECIMAL(38,0)) AS s
            FROM (SELECT y, row_number() OVER (ORDER BY y) AS i FROM ys) a
            JOIN (SELECT y, row_number() OVER (ORDER BY y) AS i FROM ys) b
              ON a.i < b.i),
    m AS (SELECT CAST(SUM(CAST(y AS DECIMAL(38,0))) AS DOUBLE) / COUNT(*)
            AS mean_y FROM spine)
    SELECT CAST((SELECT nx FROM cnts) AS BIGINT) AS n_x,
           CAST((SELECT ny FROM cnts) AS BIGINT) AS n_y,
           round((2.0 * CAST((SELECT s FROM sxy) AS DOUBLE)
                    / ((SELECT nx FROM cnts) * CAST((SELECT ny FROM cnts) AS DOUBLE))
                  - CAST((SELECT s FROM sxx) AS DOUBLE)
                    / ((SELECT nx FROM cnts) * CAST((SELECT nx FROM cnts) AS DOUBLE))
                  - CAST((SELECT s FROM syy) AS DOUBLE)
                    / ((SELECT ny FROM cnts) * CAST((SELECT ny FROM cnts) AS DOUBLE)))
                 / (SELECT mean_y FROM m), 6) AS rel_energy_distance
    """,
)
def q_energy_distance_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    spine = _spine(spark, sf_dir)
    n = spine.count()  # bounded: day spine
    half = n // 2
    xs = spine.where(F.col("rn") <= half).select("y")
    ys = spine.where(F.col("rn") > half).select("y")
    nx, ny = half, n - half

    def _pair_sum(a: DataFrame, b: DataFrame) -> DataFrame:
        return (
            a.crossJoin(b.select(F.col("y").alias("y2")))
            .agg(
                F.sum(F.abs(F.col("y") - F.col("y2")).cast("decimal(38,0)"))
                .cast("decimal(38,0)")
                .alias("s")
            )
        )

    def _self_sum(a: DataFrame) -> DataFrame:
        wi = Window.orderBy("y")
        idx = a.select("y", F.row_number().over(wi).alias("i"))
        return (
            idx.alias("l")
            .join(idx.alias("r"), F.col("l.i") < F.col("r.i"))
            .agg(
                (
                    2
                    * F.sum(
                        F.abs(F.col("l.y") - F.col("r.y")).cast("decimal(38,0)")
                    )
                )
                .cast("decimal(38,0)")
                .alias("s")
            )
        )

    sxy = _pair_sum(xs, ys).select(F.col("s").alias("sxy"))
    sxx = _self_sum(xs).select(F.col("s").alias("sxx"))
    syy = _self_sum(ys).select(F.col("s").alias("syy"))
    m = spine.agg(
        (
            F.sum(F.col("y").cast("decimal(38,0)")).cast("double")
            / F.count(F.lit(1))
        ).alias("mean_y")
    )
    return (
        sxy.crossJoin(sxx)
        .crossJoin(syy)
        .crossJoin(m)
        .select(
            F.lit(nx).cast("bigint").alias("n_x"),
            F.lit(ny).cast("bigint").alias("n_y"),
            F.round(
                (
                    2.0 * F.col("sxy").cast("double") / (nx * float(ny))
                    - F.col("sxx").cast("double") / (nx * float(nx))
                    - F.col("syy").cast("double") / (ny * float(ny))
                )
                / F.col("mean_y"),
                6,
            ).alias("rel_energy_distance"),
        )
    )


# ---------------------------------------------------------------------------
# E-value sensitivity analysis (VanderWeele & Ding) — how strong an
# unmeasured confounder would need to be to explain away an observed
# risk ratio. 2x2: exposure = BUILDING market segment, outcome = has
# an URGENT-priority order. RR is an exact rational; E-value =
# RR* + sqrt(RR*·(RR*−1)) with RR* = max(RR, 1/RR) — pure IEEE
# arithmetic on identical inputs.
@_q(
    "evalue_confounding_sensitivity",
    """
    WITH flags AS (
      SELECT c.c_custkey,
             CASE WHEN c.c_mktsegment = 'BUILDING' THEN 1 ELSE 0 END AS expo,
             CASE WHEN EXISTS (
               SELECT 1 FROM orders o
               WHERE o.o_custkey = c.c_custkey
                 AND o.o_orderpriority = '1-URGENT'
             ) THEN 1 ELSE 0 END AS outc
      FROM customer c
    ),
    cells AS (
      SELECT CAST(SUM(CASE WHEN expo = 1 AND outc = 1 THEN 1 ELSE 0 END) AS BIGINT) AS a,
             CAST(SUM(CASE WHEN expo = 1 AND outc = 0 THEN 1 ELSE 0 END) AS BIGINT) AS b,
             CAST(SUM(CASE WHEN expo = 0 AND outc = 1 THEN 1 ELSE 0 END) AS BIGINT) AS c,
             CAST(SUM(CASE WHEN expo = 0 AND outc = 0 THEN 1 ELSE 0 END) AS BIGINT) AS d
      FROM flags
    ),
    rr AS (
      SELECT a, b, c, d,
             (CAST(a AS DOUBLE) / (a + b)) / (CAST(c AS DOUBLE) / (c + d)) AS rr
      FROM cells
    ),
    star AS (
      SELECT a, b, c, d, rr,
             CASE WHEN rr >= 1.0 THEN rr ELSE 1.0 / rr END AS rs
      FROM rr
    )
    SELECT a, b, c, d,
           round(rr, 6) AS risk_ratio,
           round(rs + sqrt(rs * (rs - 1.0)), 6) AS e_value
    FROM star
    """,
)
def q_evalue_confounding_sensitivity(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    cust = t(spark, sf_dir, "customer")
    urgent = (
        t(spark, sf_dir, "orders")
        .where(F.col("o_orderpriority") == "1-URGENT")
        .select("o_custkey")
        .distinct()
    )
    flags = cust.join(
        urgent, cust.c_custkey == urgent.o_custkey, "left"
    ).select(
        F.when(F.col("c_mktsegment") == "BUILDING", 1).otherwise(0).alias("expo"),
        F.when(F.col("o_custkey").isNotNull(), 1).otherwise(0).alias("outc"),
    )
    cells = flags.agg(
        F.sum(F.when((F.col("expo") == 1) & (F.col("outc") == 1), 1).otherwise(0))
        .cast("bigint")
        .alias("a"),
        F.sum(F.when((F.col("expo") == 1) & (F.col("outc") == 0), 1).otherwise(0))
        .cast("bigint")
        .alias("b"),
        F.sum(F.when((F.col("expo") == 0) & (F.col("outc") == 1), 1).otherwise(0))
        .cast("bigint")
        .alias("c"),
        F.sum(F.when((F.col("expo") == 0) & (F.col("outc") == 0), 1).otherwise(0))
        .cast("bigint")
        .alias("d"),
    )
    rr = (F.col("a").cast("double") / (F.col("a") + F.col("b"))) / (
        F.col("c").cast("double") / (F.col("c") + F.col("d"))
    )
    withrr = cells.select("a", "b", "c", "d", rr.alias("rr"))
    rs = F.when(F.col("rr") >= 1.0, F.col("rr")).otherwise(1.0 / F.col("rr"))
    return withrr.select(
        "a",
        "b",
        "c",
        "d",
        F.round(F.col("rr"), 6).alias("risk_ratio"),
        F.round(rs + F.sqrt(rs * (rs - 1.0)), 6).alias("e_value"),
    )


# ---------------------------------------------------------------------------
# Sample-ratio-mismatch check — the first experiment-hygiene gate: a
# chi-square goodness-of-fit of observed arm sizes against the planned
# 50/50 split (arms = user parity over distinct event users). Exact
# integer counts; the statistic is one rational expression.
@_q(
    "srm_sample_ratio_check",
    """
    WITH users AS (SELECT DISTINCT user_id FROM events),
    arms AS (
      SELECT CAST(SUM(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS na,
             CAST(SUM(CASE WHEN user_id % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS nb
      FROM users
    )
    SELECT na, nb,
           round(CAST((na - nb) AS DOUBLE) * (na - nb) / (na + nb), 6)
             AS srm_chi2,
           CASE WHEN CAST((na - nb) AS DOUBLE) * (na - nb) / (na + nb) > 3.841
                THEN 1 ELSE 0 END AS srm_flag
    FROM arms
    """,
)
def q_srm_sample_ratio_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    users = t(spark, sf_dir, "events").select("user_id").distinct()
    arms = users.agg(
        F.sum(F.when(F.col("user_id") % 2 == 0, 1).otherwise(0))
        .cast("bigint")
        .alias("na"),
        F.sum(F.when(F.col("user_id") % 2 == 1, 1).otherwise(0))
        .cast("bigint")
        .alias("nb"),
    )
    chi2 = (
        (F.col("na") - F.col("nb")).cast("double")
        * (F.col("na") - F.col("nb"))
        / (F.col("na") + F.col("nb"))
    )
    return arms.select(
        "na",
        "nb",
        F.round(chi2, 6).alias("srm_chi2"),
        F.when(chi2 > 3.841, 1).otherwise(0).alias("srm_flag"),
    )


# ---------------------------------------------------------------------------
# Bhattacharyya coefficient between the order-price distributions of
# urgent vs non-urgent priorities over 20 fixed-width bins: BC =
# Σ sqrt(p_i q_i). Bin masses are exact rationals; the 20 sqrt terms
# are rounded to the 12-dp lattice and summed in DECIMAL (order-free).
@_q(
    "bhattacharyya_overlap",
    """
    WITH src AS (
      SELECT CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                  THEN 'hi' ELSE 'lo' END AS grp,
             least(CAST(floor(o_totalprice / 30000.0) AS INTEGER), 19) AS bin
      FROM orders
    ),
    counts AS (
      SELECT bin,
             CAST(SUM(CASE WHEN grp = 'hi' THEN 1 ELSE 0 END) AS BIGINT) AS ch,
             CAST(SUM(CASE WHEN grp = 'lo' THEN 1 ELSE 0 END) AS BIGINT) AS cl
      FROM src GROUP BY bin
    ),
    tot AS (
      SELECT CAST(SUM(ch) AS DOUBLE) AS nh, CAST(SUM(cl) AS DOUBLE) AS nl
      FROM counts
    )
    SELECT CAST(20 AS INT) AS n_bins,
           round(CAST(SUM(CAST(round(
             sqrt((ch / (SELECT nh FROM tot)) * (cl / (SELECT nl FROM tot))),
             12) AS DECIMAL(38,12))) AS DOUBLE), 6) AS bhattacharyya_coef
    FROM counts
    """,
)
def q_bhattacharyya_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = t(spark, sf_dir, "orders")
    src = orders.select(
        F.when(
            F.col("o_orderpriority").isin("1-URGENT", "2-HIGH"), "hi"
        )
        .otherwise("lo")
        .alias("grp"),
        F.least(
            F.floor(F.col("o_totalprice") / 30000.0).cast("int"), F.lit(19)
        ).alias("bin"),
    )
    counts = src.groupBy("bin").agg(
        F.sum(F.when(F.col("grp") == "hi", 1).otherwise(0))
        .cast("bigint")
        .alias("ch"),
        F.sum(F.when(F.col("grp") == "lo", 1).otherwise(0))
        .cast("bigint")
        .alias("cl"),
    )
    tot = counts.agg(
        F.sum("ch").cast("double").alias("nh"),
        F.sum("cl").cast("double").alias("nl"),
    )
    return (
        counts.crossJoin(F.broadcast(tot))
        .select(
            F.round(
                F.sqrt(
                    (F.col("ch") / F.col("nh")) * (F.col("cl") / F.col("nl"))
                ),
                12,
            )
            .cast("decimal(38,12)")
            .alias("term")
        )
        .agg(
            F.lit(20).cast("int").alias("n_bins"),
            F.round(F.sum("term").cast("double"), 6).alias(
                "bhattacharyya_coef"
            ),
        )
    )


# ---------------------------------------------------------------------------
# Lo-MacKinlay variance-ratio test (q = 5) on daily log revenue
# returns — the classic random-walk diagnostic. Returns are rounded to
# the 12-dp lattice and then handled as INTEGER micro-units (r·1e12 as
# BIGINT), so every variance reduces to exact n·Σx² − (Σx)² decimal
# algebra; the overlapping q-period sums are 5-term window sums of the
# integer lattice. One fixed-order double assembly at the end.
_VR_Q = 5

_SQL_VR = f"""
    WITH {_SQL_SPINE},
    rets AS (
      SELECT rn,
             CAST(round(ln(CAST(y AS DOUBLE)
                           / lag(y) OVER (ORDER BY rn)) * 1e12, 0) AS BIGINT)
               AS r
      FROM spine QUALIFY lag(y) OVER (ORDER BY rn) IS NOT NULL
    ),
    qsums AS (
      SELECT rn,
             CAST(SUM(r) OVER (ORDER BY rn ROWS BETWEEN {_VR_Q - 1} PRECEDING
                               AND CURRENT ROW) AS BIGINT) AS rq,
             COUNT(*) OVER (ORDER BY rn ROWS BETWEEN {_VR_Q - 1} PRECEDING
                            AND CURRENT ROW) AS w
      FROM rets
    ),
    s1 AS (
      SELECT COUNT(*) AS n1,
             CAST(SUM(CAST(r AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS sr,
             CAST(SUM(CAST(r AS DECIMAL(38,0)) * CAST(r AS DECIMAL(38,0)))
                  AS DECIMAL(38,0)) AS srr
      FROM rets
    ),
    sq AS (
      SELECT COUNT(*) AS m,
             CAST(SUM(CAST(rq AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS sq_,
             CAST(SUM(CAST(rq AS DECIMAL(38,0)) * CAST(rq AS DECIMAL(38,0)))
                  AS DECIMAL(38,0)) AS sqq
      FROM qsums WHERE w = {_VR_Q}
    )
    SELECT CAST({_VR_Q} AS INT) AS q,
           CAST((SELECT n1 FROM s1) AS BIGINT) AS n_returns,
           round(
             ((CAST((SELECT m FROM sq) AS DOUBLE) * (SELECT sqq FROM sq)
               - CAST((SELECT sq_ FROM sq) AS DOUBLE) * (SELECT sq_ FROM sq))
              / (CAST((SELECT m FROM sq) AS DOUBLE)
                 * ((SELECT m FROM sq) - 1)))
             / ({_VR_Q}.0
                * ((CAST((SELECT n1 FROM s1) AS DOUBLE) * (SELECT srr FROM s1)
                    - CAST((SELECT sr FROM s1) AS DOUBLE) * (SELECT sr FROM s1))
                   / (CAST((SELECT n1 FROM s1) AS DOUBLE)
                      * ((SELECT n1 FROM s1) - 1)))), 6) AS variance_ratio
"""


@_q("variance_ratio_test", _SQL_VR)
def q_variance_ratio_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    spine = _spine(spark, sf_dir)
    wo = Window.orderBy("rn")
    rets = (
        spine.select(
            "rn",
            F.round(
                F.log(F.col("y").cast("double") / F.lag("y").over(wo)) * 1e12,
                0,
            )
            .cast("bigint")
            .alias("r"),
            F.lag("y").over(wo).alias("yp"),
        )
        .where(F.col("yp").isNotNull())
        .drop("yp")
    )
    wq = Window.orderBy("rn").rowsBetween(-(_VR_Q - 1), 0)
    qsums = rets.select(
        F.sum("r").over(wq).cast("bigint").alias("rq"),
        F.count(F.lit(1)).over(wq).alias("w"),
    ).where(F.col("w") == _VR_Q)
    s1 = rets.agg(
        F.count(F.lit(1)).alias("n1"),
        F.sum(F.col("r").cast("decimal(38,0)")).cast("decimal(38,0)").alias("sr"),
        F.sum(F.col("r").cast("decimal(38,0)") * F.col("r").cast("decimal(38,0)"))
        .cast("decimal(38,0)")
        .alias("srr"),
    )
    sq = qsums.agg(
        F.count(F.lit(1)).alias("m"),
        F.sum(F.col("rq").cast("decimal(38,0)")).cast("decimal(38,0)").alias("sq_"),
        F.sum(
            F.col("rq").cast("decimal(38,0)") * F.col("rq").cast("decimal(38,0)")
        )
        .cast("decimal(38,0)")
        .alias("sqq"),
    )
    var1 = (
        F.col("n1").cast("double") * F.col("srr")
        - F.col("sr").cast("double") * F.col("sr")
    ) / (F.col("n1").cast("double") * (F.col("n1") - 1))
    varq = (
        F.col("m").cast("double") * F.col("sqq")
        - F.col("sq_").cast("double") * F.col("sq_")
    ) / (F.col("m").cast("double") * (F.col("m") - 1))
    return s1.crossJoin(sq).select(
        F.lit(_VR_Q).cast("int").alias("q"),
        F.col("n1").cast("bigint").alias("n_returns"),
        F.round(varq / (float(_VR_Q) * var1), 6).alias("variance_ratio"),
    )


# ---------------------------------------------------------------------------
# Discrete Fréchet distance of each user's 16-step event-value profile
# against the reference user — the coupled "dog-walk" metric
# (max-over-path of pointwise distance, vs DTW's sum). Same integer
# cents lattice and nested-fold DP as dtw_profile_distance
# (`timeseries_queries.py`), with the max/min recurrence
# F(i,j) = max(|a_i−b_j|, min(F(i−1,j), F(i−1,j−1), F(i,j−1))).
_FR_LEN = 16
_FR_INF = 1 << 40

_SQL_FRECHET = f"""
    WITH RECURSIVE ranked AS (
      SELECT user_id,
             CAST(round(value * 100) AS BIGINT) AS v,
             row_number() OVER (PARTITION BY user_id ORDER BY event_id) AS rn
      FROM events
    ),
    ser AS MATERIALIZED (
      SELECT user_id, list(v ORDER BY rn) AS s
      FROM ranked WHERE rn <= {_FR_LEN} GROUP BY user_id
    ),
    ref AS (SELECT s AS r FROM ser
            WHERE user_id = (SELECT min(user_id) FROM ser)),
    dp AS (
      SELECT user_id, 1 AS i, s, r,
             list_reduce(
               [[]] || list_transform(r, e -> [e]),
               (acc, it) -> list_append(acc,
                 greatest(abs(s[1] - r[len(acc) + 1]),
                          CASE WHEN len(acc) = 0 THEN CAST(0 AS BIGINT)
                               ELSE acc[-1] END))
             ) AS row
      FROM ser CROSS JOIN ref
      UNION ALL
      SELECT user_id, i + 1, s, r,
             list_reduce(
               [[]] || list_transform(r, e -> [e]),
               (acc, it) -> list_append(acc,
                 greatest(abs(s[i + 1] - r[len(acc) + 1]),
                          least(row[len(acc) + 1],
                                CASE WHEN len(acc) = 0 THEN {_FR_INF}
                                     ELSE least(row[len(acc)], acc[-1])
                                END)))
             ) AS row
      FROM dp WHERE i < len(s)
    )
    SELECT CAST(user_id AS BIGINT) AS user_id,
           CAST(len(s) AS BIGINT) AS n_points,
           CAST(row[-1] AS BIGINT) AS frechet_cents
    FROM dp WHERE i = len(s)
    ORDER BY frechet_cents, user_id LIMIT 20
"""


@_q("discrete_frechet_distance", _SQL_FRECHET)
def q_discrete_frechet_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("event_id")
    ranked = ev.select(
        "user_id",
        F.round(F.col("value") * 100).cast("bigint").alias("v"),
        F.row_number().over(w).alias("rn"),
    ).where(F.col("rn") <= _FR_LEN)
    ser = ranked.groupBy("user_id").agg(
        F.transform(
            F.sort_array(F.collect_list(F.struct("rn", "v"))), lambda s: s["v"]
        ).alias("s")
    )
    ref = ser.orderBy("user_id").limit(1).select(F.col("s").alias("r"))

    empty = F.expr("array()").cast("array<bigint>")

    def _base(x1, r):
        return F.aggregate(
            r,
            empty,
            lambda acc, _e: F.concat(
                acc,
                F.array(
                    F.greatest(
                        F.abs(x1 - F.element_at(r, (F.size(acc) + 1).cast("int"))),
                        F.when(
                            F.size(acc) == 0, F.lit(0).cast("bigint")
                        ).otherwise(F.element_at(acc, -1)),
                    )
                ),
            ),
        )

    def _step(p, xv, r):
        return F.aggregate(
            r,
            empty,
            lambda acc, _e: F.concat(
                acc,
                F.array(
                    F.greatest(
                        F.abs(xv - F.element_at(r, (F.size(acc) + 1).cast("int"))),
                        F.least(
                            F.element_at(p, (F.size(acc) + 1).cast("int")),
                            F.when(
                                F.size(acc) == 0, F.lit(_FR_INF).cast("bigint")
                            ).otherwise(
                                F.least(
                                    F.element_at(p, F.size(acc).cast("int")),
                                    F.element_at(acc, -1),
                                )
                            ),
                        ),
                    )
                ),
            ),
        )

    s, r = F.col("s"), F.col("r")
    dp = F.aggregate(
        F.slice(s, 2, _FR_LEN),
        _base(F.element_at(s, 1), r),
        lambda p, xv: _step(p, xv, r),
    )
    return (
        ser.crossJoin(F.broadcast(ref))
        .select(
            F.col("user_id").cast("bigint").alias("user_id"),
            F.size("s").cast("bigint").alias("n_points"),
            F.element_at(dp, -1).cast("bigint").alias("frechet_cents"),
        )
        .orderBy("frechet_cents", "user_id")
        .limit(20)
    )


# ---------------------------------------------------------------------------
# Quantile treatment effects — per-decile difference between the
# urgent-priority and regular order-price distributions, using EXACT
# order statistics (value at rank ceil(d·n/10) under the deterministic
# (price, orderkey) order; no interpolation, so both engines pick the
# identical row — the house percentile discipline).
_SQL_QTE = """
    WITH src AS (
      SELECT CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                  THEN 'treat' ELSE 'control' END AS arm,
             o_totalprice AS p, o_orderkey AS k
      FROM orders
    ),
    ranked AS (
      SELECT arm, p,
             row_number() OVER (PARTITION BY arm ORDER BY p, k) AS rnk,
             COUNT(*) OVER (PARTITION BY arm) AS n
      FROM src
    ),
    deciles AS (SELECT unnest(generate_series(1, 9)) AS d),
    picks AS (
      SELECT d.d, r.arm, r.p
      FROM ranked r JOIN deciles d
        ON r.rnk = CAST(ceil(d.d * r.n / 10.0) AS BIGINT)
    )
    SELECT CAST(d AS INT) AS decile,
           CAST(MAX(CASE WHEN arm = 'treat' THEN p END) AS DOUBLE) AS q_treat,
           CAST(MAX(CASE WHEN arm = 'control' THEN p END) AS DOUBLE) AS q_control,
           CAST(MAX(CASE WHEN arm = 'treat' THEN p END)
                - MAX(CASE WHEN arm = 'control' THEN p END) AS DOUBLE) AS qte
    FROM picks GROUP BY d
"""


@_q("quantile_treatment_effects", _SQL_QTE)
def q_quantile_treatment_effects(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = t(spark, sf_dir, "orders")
    src = orders.select(
        F.when(
            F.col("o_orderpriority").isin("1-URGENT", "2-HIGH"), "treat"
        )
        .otherwise("control")
        .alias("arm"),
        F.col("o_totalprice").alias("p"),
        F.col("o_orderkey").alias("k"),
    )
    wa = Window.partitionBy("arm")
    ranked = src.select(
        "arm",
        "p",
        F.row_number().over(wa.orderBy("p", "k")).alias("rnk"),
        F.count(F.lit(1)).over(wa).alias("n"),
    )
    deciles = spark.range(1, 10).select(F.col("id").cast("int").alias("d"))
    picks = ranked.join(
        F.broadcast(deciles),
        F.col("rnk")
        == F.ceil(F.col("d") * F.col("n") / 10.0).cast("bigint"),
    )
    qt = F.max(F.when(F.col("arm") == "treat", F.col("p")))
    qc = F.max(F.when(F.col("arm") == "control", F.col("p")))
    return picks.groupBy(F.col("d").cast("int").alias("decile")).agg(
        qt.cast("double").alias("q_treat"),
        qc.cast("double").alias("q_control"),
        (qt - qc).cast("double").alias("qte"),
    )


# ---------------------------------------------------------------------------
# Weisfeiler-Leman color refinement (3 rounds) over the guarded
# co-supply graph — the graph-isomorphism workhorse (GNN expressivity
# baseline): each round rehashes every node's color with the MULTISET
# of its neighbors' colors; the census tracks how fast the color
# partition refines. The multiset is canonicalized as an order-free
# integer SUM of per-neighbor md5-prefix hashes (the hash-based WL
# variant every graph-kernel library uses) rather than a sorted
# string concat: a plain SUM map-side combines and never shuffles
# strings, which the r16 second-decade probe showed is the difference
# between 3.04x and ~2x wall at 10x edges. Identical md5 bytes and
# decimal sums in both engines.
_WL_ROUNDS = 3


def _sql_wl() -> str:
    ctes = [
        _EDGES_CTE.strip().rstrip(),
        """c0 AS MATERIALIZED (
      SELECT src AS node, 'd' || CAST(COUNT(*) AS VARCHAR) AS c
      FROM edges GROUP BY src
    )""",
    ]
    for k in range(_WL_ROUNDS):
        ctes.append(
            f"""c{k + 1} AS MATERIALIZED (
      SELECT o.node,
             substring(md5(o.c || '|' || CAST(m.sig AS VARCHAR)), 1, 16) AS c
      FROM c{k} o
      JOIN (
        SELECT e.dst AS node,
               CAST(SUM(CAST(('0x' || substring(md5(l.c), 1, 14)) AS BIGINT))
                    AS DECIMAL(38,0)) AS sig
        FROM c{k} l JOIN edges e ON e.src = l.node
        GROUP BY e.dst
      ) m ON m.node = o.node
    )"""
        )
    sel = "\n      UNION ALL ".join(
        f"""SELECT {k} AS round, COUNT(DISTINCT c) AS n_colors,
             MAX(cnt) AS largest_class
      FROM (SELECT c, COUNT(*) AS cnt FROM c{k} GROUP BY c)"""
        for k in range(_WL_ROUNDS + 1)
    )
    return (
        "WITH "
        + ",\n    ".join(ctes)
        + f"""
    SELECT CAST(round AS INT) AS round,
           CAST(n_colors AS BIGINT) AS n_colors,
           CAST(largest_class AS BIGINT) AS largest_class
    FROM ({sel}) ORDER BY round
    """
    )


@_q("weisfeiler_leman_colors", _sql_wl())
def q_weisfeiler_leman_colors(spark: SparkSession, sf_dir: str) -> DataFrame:
    # |colors| <= |directed edges|: the edge count bounds every round's
    # broadcast guard
    edges, n_edges = directed_edges(_undirected_edges(spark, sf_dir))
    colors = (
        edges.groupBy(F.col("src").alias("node"))
        .agg(
            F.concat(F.lit("d"), F.count(F.lit(1)).cast("string")).alias("c")
        )
        # two consumers (round-1 refinement + the final census) —
        # lazy-checkpoint so the degree aggregation runs once
        .localCheckpoint(eager=False)
    )
    rounds = [colors]
    for _ in range(_WL_ROUNDS):
        prev = rounds[-1]
        nbr_hash = F.conv(F.substring(F.md5("c"), 1, 14), 16, 10).cast("bigint")
        # the (node, color) table is node metadata, ~40 B/node of data
        sig = aggregate_messages(
            edges,
            prev,
            n_edges,
            F.sum(nbr_hash.cast("decimal(38,0)")).cast("decimal(38,0)").alias("sig"),
        )
        nxt = (
            # broadcast the per-round signature vector too (same
            # n_edges size guard). A checkpoint keeps the size estimate
            # of the plan it came from: usable when scan-rooted, but
            # exploded for vectors built by joins like sig and prev
            # (Spark 4.1.2 put a 100k-node vector at 442 TiB after one
            # round), so unhinted this join shuffles BOTH node-sized
            # sides every round (2 of the 3 per-round exchanges)
            prev.join(broadcast_if_small(sig, n_edges), "node")
            .select(
                "node",
                F.substring(
                    F.md5(
                        F.concat(
                            F.col("c"), F.lit("|"), F.col("sig").cast("string")
                        )
                    ),
                    1,
                    16,
                ).alias("c"),
            )
            .localCheckpoint(eager=True)
        )
        rounds.append(nxt)
    out = None
    for k, cdf in enumerate(rounds):
        census = (
            cdf.groupBy("c")
            .agg(F.count(F.lit(1)).alias("cnt"))
            .agg(
                F.lit(k).cast("int").alias("round"),
                F.count(F.lit(1)).cast("bigint").alias("n_colors"),
                F.max("cnt").cast("bigint").alias("largest_class"),
            )
        )
        out = census if out is None else out.unionByName(census)
    return out.orderBy("round")


# ---------------------------------------------------------------------------
# Econometric trio (Newey-West HAC, Phillips-Perron, Cochrane-Orcutt).
# House determinism scheme: the OLS coefficients come from EXACT
# integer sufficient statistics (cents x day-index sums in
# DECIMAL(38,0)), so the per-row residuals are pure-arithmetic doubles
# computed from identical inputs with identical expression trees —
# bit-identical in both engines (no transcendentals anywhere). The
# only cross-engine surface is summation ORDER of those doubles, which
# the usual per-term round -> DECIMAL sum removes. Magnitudes are kept
# in O(1..1e6) by working in scaled units (ys = y/1e8 = revenue in
# $1e6), so round(x, 6) sits far above the doubles' ulp and the
# round-then-cast is loss-free deterministic (the r15 "round only
# O(1..1e6)-magnitude outputs" rule).

_NW_LAGS = 4
_YS = 1e8  # cents -> $1e6 units


def _sql_trend_stats() -> str:
    """Exact integer sufficient statistics of the y-on-t regression."""
    return """
    stats AS MATERIALIZED (
      SELECT COUNT(*) AS n,
             CAST(SUM(CAST(rn AS DECIMAL(38,0))) AS DOUBLE) AS st,
             CAST(SUM(CAST(rn AS DECIMAL(38,0)) * CAST(rn AS DECIMAL(38,0)))
                  AS DOUBLE) AS stt,
             CAST(SUM(CAST(y AS DECIMAL(38,0))) AS DOUBLE) AS sy,
             CAST(SUM(CAST(rn AS DECIMAL(38,0)) * CAST(y AS DECIMAL(38,0)))
                  AS DOUBLE) AS sty
      FROM spine
    ),
    coefs AS MATERIALIZED (
      SELECT n, st, stt, sy, sty,
             (n * sty - st * sy) / (n * stt - st * st) / 1e8 AS b,
             (sy / 1e8 - (n * sty - st * sy) / (n * stt - st * st) / 1e8 * st)
               / n AS a,
             st / n AS xbar
      FROM stats
    ),
    resid AS MATERIALIZED (
      SELECT s.rn,
             CAST(s.y AS DOUBLE) / 1e8 - c.a - c.b * s.rn AS e,
             (s.rn - c.xbar) AS tc
      FROM spine s CROSS JOIN coefs c
    )
"""


@_q(
    "newey_west_hac_se",
    f"""
    WITH {_SQL_SPINE},
    {_sql_trend_stats().strip()},
    lags AS (SELECT unnest(generate_series(0, {_NW_LAGS})) AS j),
    gam AS (
      SELECT l.j,
             CAST(SUM(CAST(round(a.tc * a.e * b.tc * b.e, 6)
                           AS DECIMAL(38,6))) AS DOUBLE) AS g
      FROM resid a
      CROSS JOIN lags l
      JOIN resid b ON b.rn = a.rn - l.j
      GROUP BY l.j
    ),
    omega AS (
      SELECT CAST(SUM(CAST(round(
               CASE WHEN j = 0 THEN g
                    ELSE 2.0 * (1.0 - j / ({_NW_LAGS} + 1.0)) * g END, 6)
               AS DECIMAL(38,6))) AS DOUBLE) AS om
      FROM gam
    ),
    ess AS (
      SELECT CAST(SUM(CAST(round(e * e, 9) AS DECIMAL(38,9))) AS DOUBLE) AS see
      FROM resid
    ),
    sxx AS (
      SELECT (stt - st * st / n) AS sxx, n FROM stats
    )
    SELECT CAST((SELECT n FROM sxx) AS BIGINT) AS n_days,
           round((SELECT b FROM coefs), 6) AS trend_musd_per_day,
           round(sqrt((SELECT see FROM ess)
                      / ((SELECT n FROM sxx) - 2)
                      / (SELECT sxx FROM sxx)), 6) AS se_ols,
           round(sqrt((SELECT om FROM omega))
                 / (SELECT sxx FROM sxx), 6) AS se_hac,
           round((sqrt((SELECT om FROM omega)) / (SELECT sxx FROM sxx))
                 / sqrt((SELECT see FROM ess)
                        / ((SELECT n FROM sxx) - 2)
                        / (SELECT sxx FROM sxx)), 6) AS hac_inflation
    """,
)
def q_newey_west_hac_se(spark: SparkSession, sf_dir: str) -> DataFrame:
    spine = _spine(spark, sf_dir)
    stats = spine.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("rn").cast("decimal(38,0)")).cast("double").alias("st"),
        F.sum(F.col("rn").cast("decimal(38,0)") * F.col("rn").cast("decimal(38,0)"))
        .cast("double")
        .alias("stt"),
        F.sum(F.col("y").cast("decimal(38,0)")).cast("double").alias("sy"),
        F.sum(F.col("rn").cast("decimal(38,0)") * F.col("y").cast("decimal(38,0)"))
        .cast("double")
        .alias("sty"),
    )
    b = (
        (F.col("n") * F.col("sty") - F.col("st") * F.col("sy"))
        / (F.col("n") * F.col("stt") - F.col("st") * F.col("st"))
        / _YS
    )
    coefs = stats.select(
        "n",
        "st",
        "stt",
        b.alias("b"),
        ((F.col("sy") / _YS - b * F.col("st")) / F.col("n")).alias("a"),
        (F.col("st") / F.col("n")).alias("xbar"),
    )
    resid = spine.crossJoin(F.broadcast(coefs)).select(
        "rn",
        "n",
        "st",
        "stt",
        "b",
        (F.col("y").cast("double") / _YS - F.col("a") - F.col("b") * F.col("rn"))
        .alias("e"),
        (F.col("rn") - F.col("xbar")).alias("tc"),
    )
    lags = spark.range(_NW_LAGS + 1).select(F.col("id").cast("int").alias("j"))
    rb = resid.select(
        F.col("rn").alias("rn2"), F.col("e").alias("e2"), F.col("tc").alias("tc2")
    )
    gam = (
        resid.crossJoin(F.broadcast(lags))
        .join(rb, F.col("rn2") == F.col("rn") - F.col("j"))
        .groupBy("j")
        .agg(
            F.sum(
                F.round(
                    F.col("tc") * F.col("e") * F.col("tc2") * F.col("e2"), 6
                ).cast("decimal(38,6)")
            )
            .cast("double")
            .alias("g")
        )
    )
    omega = gam.agg(
        F.sum(
            F.round(
                F.when(F.col("j") == 0, F.col("g")).otherwise(
                    2.0 * (1.0 - F.col("j") / (_NW_LAGS + 1.0)) * F.col("g")
                ),
                6,
            ).cast("decimal(38,6)")
        )
        .cast("double")
        .alias("om")
    )
    ess = resid.agg(
        F.sum(F.round(F.col("e") * F.col("e"), 9).cast("decimal(38,9)"))
        .cast("double")
        .alias("see")
    )
    sxx = stats.select(
        (F.col("stt") - F.col("st") * F.col("st") / F.col("n")).alias("sxx"),
        "n",
    )
    se_ols = F.sqrt(
        F.col("see") / (F.col("n") - 2) / F.col("sxx")
    )
    se_hac = F.sqrt(F.col("om")) / F.col("sxx")
    return (
        coefs.select("b")
        .crossJoin(omega)
        .crossJoin(ess)
        .crossJoin(sxx)
        .select(
            F.col("n").cast("bigint").alias("n_days"),
            F.round(F.col("b"), 6).alias("trend_musd_per_day"),
            F.round(se_ols, 6).alias("se_ols"),
            F.round(se_hac, 6).alias("se_hac"),
            F.round(se_hac / se_ols, 6).alias("hac_inflation"),
        )
    )


# ---------------------------------------------------------------------------
# Phillips-Perron unit-root test (Z_tau) on daily revenue: the
# Dickey-Fuller regression dy_t = alpha + pi*y_{t-1} + e_t, with the
# serial-correlation correction built from the Newey-West long-run
# variance of the residuals. Same exact-integer-coefficients +
# bit-identical-residuals scheme as newey_west_hac_se; lambda^2 and
# gamma_0 are lattice-summed, the Z_tau assembly is one fixed
# expression (Hamilton 17.6.12 form).
@_q(
    "phillips_perron_test",
    f"""
    WITH {_SQL_SPINE},
    pairs AS MATERIALIZED (
      SELECT a.rn,
             CAST(a.y AS DOUBLE) / 1e8 AS dy8,
             CAST(b.y AS DOUBLE) / 1e8 AS x8,
             a.y AS ya, b.y AS yb
      FROM spine a JOIN spine b ON b.rn = a.rn - 1
    ),
    stats AS MATERIALIZED (
      SELECT COUNT(*) AS n,
             CAST(SUM(CAST(yb AS DECIMAL(38,0))) AS DOUBLE) AS sx,
             CAST(SUM(CAST(yb AS DECIMAL(38,0)) * CAST(yb AS DECIMAL(38,0)))
                  AS DOUBLE) AS sxx,
             CAST(SUM(CAST(ya AS DECIMAL(38,0)) - CAST(yb AS DECIMAL(38,0)))
                  AS DOUBLE) AS sd,
             CAST(SUM((CAST(ya AS DECIMAL(38,0)) - CAST(yb AS DECIMAL(38,0)))
                      * CAST(yb AS DECIMAL(38,0))) AS DOUBLE) AS sxd
      FROM pairs
    ),
    coefs AS MATERIALIZED (
      SELECT n, sx, sxx,
             (n * sxd - sx * sd) / (n * sxx - sx * sx) AS pi,
             (sd / 1e8 - (n * sxd - sx * sd) / (n * sxx - sx * sx)
                        * sx / 1e8) / n AS a,
             (sxx - sx * sx / n) / 1e16 AS sxxc
      FROM stats
    ),
    resid AS MATERIALIZED (
      SELECT p.rn, (p.dy8 - p.x8) - c.a - c.pi * p.x8 AS e
      FROM pairs p CROSS JOIN coefs c
    ),
    lags AS (SELECT unnest(generate_series(0, {_NW_LAGS})) AS j),
    gam AS (
      SELECT l.j,
             CAST(SUM(CAST(round(a.e * b.e, 9) AS DECIMAL(38,9))) AS DOUBLE)
               / (SELECT n FROM coefs) AS g
      FROM resid a CROSS JOIN lags l JOIN resid b ON b.rn = a.rn - l.j
      GROUP BY l.j
    ),
    lrv AS (
      SELECT CAST(SUM(CAST(round(
               CASE WHEN j = 0 THEN g
                    ELSE 2.0 * (1.0 - j / ({_NW_LAGS} + 1.0)) * g END, 12)
               AS DECIMAL(38,12))) AS DOUBLE) AS lam2,
             MAX(CASE WHEN j = 0 THEN g END) AS g0
      FROM gam
    )
    SELECT CAST((SELECT n FROM coefs) AS BIGINT) AS n_obs,
           round((SELECT pi FROM coefs), 6) AS pi_hat,
           round((SELECT pi FROM coefs)
                 / (sqrt((SELECT g0 FROM lrv)
                         * (SELECT n FROM coefs)
                         / ((SELECT n FROM coefs) - 2))
                    / sqrt((SELECT sxxc FROM coefs))), 6) AS t_stat,
           round(sqrt((SELECT g0 FROM lrv) / (SELECT lam2 FROM lrv))
                 * ((SELECT pi FROM coefs)
                    / (sqrt((SELECT g0 FROM lrv)
                            * (SELECT n FROM coefs)
                            / ((SELECT n FROM coefs) - 2))
                       / sqrt((SELECT sxxc FROM coefs))))
                 - ((SELECT lam2 FROM lrv) - (SELECT g0 FROM lrv))
                   * (SELECT n FROM coefs)
                   / (2.0 * sqrt((SELECT lam2 FROM lrv))
                      * sqrt((SELECT sxxc FROM coefs))
                      * sqrt((SELECT n FROM coefs) / ((SELECT n FROM coefs) - 2.0))),
                 6) AS z_tau
    """,
)
def q_phillips_perron_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    spine = _spine(spark, sf_dir)
    b = spine.select(F.col("rn").alias("rn2"), F.col("y").alias("yb"))
    pairs = spine.join(b, F.col("rn2") == F.col("rn") - 1).select(
        "rn",
        (F.col("y").cast("double") / _YS).alias("dy8"),
        (F.col("yb").cast("double") / _YS).alias("x8"),
        F.col("y").alias("ya"),
        "yb",
    )
    stats = pairs.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("yb").cast("decimal(38,0)")).cast("double").alias("sx"),
        F.sum(F.col("yb").cast("decimal(38,0)") * F.col("yb").cast("decimal(38,0)"))
        .cast("double")
        .alias("sxx"),
        F.sum(F.col("ya").cast("decimal(38,0)") - F.col("yb").cast("decimal(38,0)"))
        .cast("double")
        .alias("sd"),
        F.sum(
            (F.col("ya").cast("decimal(38,0)") - F.col("yb").cast("decimal(38,0)"))
            * F.col("yb").cast("decimal(38,0)")
        )
        .cast("double")
        .alias("sxd"),
    )
    pi = (F.col("n") * F.col("sxd") - F.col("sx") * F.col("sd")) / (
        F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    )
    coefs = stats.select(
        "n",
        pi.alias("pi"),
        ((F.col("sd") / _YS - pi * F.col("sx") / _YS) / F.col("n")).alias("a"),
        ((F.col("sxx") - F.col("sx") * F.col("sx") / F.col("n")) / (_YS * _YS))
        .alias("sxxc"),
    )
    resid = pairs.crossJoin(F.broadcast(coefs)).select(
        "rn",
        "n",
        "pi",
        "sxxc",
        ((F.col("dy8") - F.col("x8")) - F.col("a") - F.col("pi") * F.col("x8"))
        .alias("e"),
    )
    lags = spark.range(_NW_LAGS + 1).select(F.col("id").cast("int").alias("j"))
    rb = resid.select(F.col("rn").alias("rn2"), F.col("e").alias("e2"))
    gam = (
        resid.crossJoin(F.broadcast(lags))
        .join(rb, F.col("rn2") == F.col("rn") - F.col("j"))
        .groupBy("j", "n")
        .agg(
            (
                F.sum(F.round(F.col("e") * F.col("e2"), 9).cast("decimal(38,9)"))
                .cast("double")
                / F.col("n")
            ).alias("g")
        )
    )
    lrv = gam.agg(
        F.sum(
            F.round(
                F.when(F.col("j") == 0, F.col("g")).otherwise(
                    2.0 * (1.0 - F.col("j") / (_NW_LAGS + 1.0)) * F.col("g")
                ),
                12,
            ).cast("decimal(38,12)")
        )
        .cast("double")
        .alias("lam2"),
        F.max(F.when(F.col("j") == 0, F.col("g"))).alias("g0"),
    )
    out = coefs.crossJoin(lrv)
    s_reg = F.sqrt(F.col("g0") * F.col("n") / (F.col("n") - 2))
    se_pi = s_reg / F.sqrt(F.col("sxxc"))
    t_stat = F.col("pi") / se_pi
    z_tau = F.sqrt(F.col("g0") / F.col("lam2")) * t_stat - (
        F.col("lam2") - F.col("g0")
    ) * F.col("n") / (
        2.0
        * F.sqrt(F.col("lam2"))
        * F.sqrt(F.col("sxxc"))
        * F.sqrt(F.col("n") / (F.col("n") - 2.0))
    )
    return out.select(
        F.col("n").cast("bigint").alias("n_obs"),
        F.round(F.col("pi"), 6).alias("pi_hat"),
        F.round(t_stat, 6).alias("t_stat"),
        F.round(z_tau, 6).alias("z_tau"),
    )


# ---------------------------------------------------------------------------
# Cochrane-Orcutt AR(1) correction for the revenue-on-time trend: the
# serial-correlation-aware sibling of the plain OLS trend. Step 1 OLS
# comes from exact integer sums; rho is the lattice-summed residual
# lag-1 autocorrelation; step 2 re-runs OLS on the quasi-differenced
# series (y_t - rho*y_{t-1} on t - rho*(t-1)) whose per-row values are
# bit-identical doubles, lattice-summed.
@_q(
    "cochrane_orcutt_ar1",
    f"""
    WITH {_SQL_SPINE},
    {_sql_trend_stats().strip()},
    rsums AS (
      SELECT CAST(SUM(CAST(round(a.e * b.e, 9) AS DECIMAL(38,9))) AS DOUBLE) AS s01,
             CAST(SUM(CAST(round(b.e * b.e, 9) AS DECIMAL(38,9))) AS DOUBLE) AS s11
      FROM resid a JOIN resid b ON b.rn = a.rn - 1
    ),
    rho AS (SELECT s01 / s11 AS rho FROM rsums),
    trans AS (
      SELECT a.rn,
             CAST(a.y AS DOUBLE) / 1e8
               - (SELECT rho FROM rho) * CAST(b.y AS DOUBLE) / 1e8 AS ys,
             a.rn - (SELECT rho FROM rho) * (a.rn - 1) AS xs
      FROM spine a JOIN spine b ON b.rn = a.rn - 1
    ),
    tsum AS (
      SELECT COUNT(*) AS m,
             CAST(SUM(CAST(round(xs, 9) AS DECIMAL(38,9))) AS DOUBLE) AS sx,
             CAST(SUM(CAST(round(xs * xs, 9) AS DECIMAL(38,9))) AS DOUBLE) AS sxx,
             CAST(SUM(CAST(round(ys, 9) AS DECIMAL(38,9))) AS DOUBLE) AS sy,
             CAST(SUM(CAST(round(xs * ys, 9) AS DECIMAL(38,9))) AS DOUBLE) AS sxy
      FROM trans
    )
    SELECT CAST((SELECT n FROM stats) AS BIGINT) AS n_days,
           round((SELECT rho FROM rho), 6) AS rho_hat,
           round((SELECT b FROM coefs), 6) AS beta_ols,
           round(((SELECT m FROM tsum) * (SELECT sxy FROM tsum)
                  - (SELECT sx FROM tsum) * (SELECT sy FROM tsum))
                 / ((SELECT m FROM tsum) * (SELECT sxx FROM tsum)
                    - (SELECT sx FROM tsum) * (SELECT sx FROM tsum)), 6)
             AS beta_co
    """,
)
def q_cochrane_orcutt_ar1(spark: SparkSession, sf_dir: str) -> DataFrame:
    spine = _spine(spark, sf_dir)
    stats = spine.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("rn").cast("decimal(38,0)")).cast("double").alias("st"),
        F.sum(F.col("rn").cast("decimal(38,0)") * F.col("rn").cast("decimal(38,0)"))
        .cast("double")
        .alias("stt"),
        F.sum(F.col("y").cast("decimal(38,0)")).cast("double").alias("sy"),
        F.sum(F.col("rn").cast("decimal(38,0)") * F.col("y").cast("decimal(38,0)"))
        .cast("double")
        .alias("sty"),
    )
    b = (
        (F.col("n") * F.col("sty") - F.col("st") * F.col("sy"))
        / (F.col("n") * F.col("stt") - F.col("st") * F.col("st"))
        / _YS
    )
    coefs = stats.select(
        "n",
        b.alias("b"),
        ((F.col("sy") / _YS - b * F.col("st")) / F.col("n")).alias("a"),
    )
    resid = spine.crossJoin(F.broadcast(coefs)).select(
        "rn",
        "n",
        "b",
        (F.col("y").cast("double") / _YS - F.col("a") - F.col("b") * F.col("rn"))
        .alias("e"),
    )
    rb = resid.select(F.col("rn").alias("rn2"), F.col("e").alias("e2"))
    rsums = resid.join(rb, F.col("rn2") == F.col("rn") - 1).agg(
        F.sum(F.round(F.col("e") * F.col("e2"), 9).cast("decimal(38,9)"))
        .cast("double")
        .alias("s01"),
        F.sum(F.round(F.col("e2") * F.col("e2"), 9).cast("decimal(38,9)"))
        .cast("double")
        .alias("s11"),
    )
    rho = rsums.select((F.col("s01") / F.col("s11")).alias("rho"))
    bsp = spine.select(F.col("rn").alias("rn2"), F.col("y").alias("yb"))
    trans = (
        spine.join(bsp, F.col("rn2") == F.col("rn") - 1)
        .crossJoin(F.broadcast(rho))
        .select(
            (
                F.col("y").cast("double") / _YS
                - F.col("rho") * F.col("yb").cast("double") / _YS
            ).alias("ys"),
            (F.col("rn") - F.col("rho") * (F.col("rn") - 1)).alias("xs"),
        )
    )
    tsum = trans.agg(
        F.count(F.lit(1)).alias("m"),
        F.sum(F.round(F.col("xs"), 9).cast("decimal(38,9)")).cast("double").alias("sx"),
        F.sum(F.round(F.col("xs") * F.col("xs"), 9).cast("decimal(38,9)"))
        .cast("double")
        .alias("sxx"),
        F.sum(F.round(F.col("ys"), 9).cast("decimal(38,9)")).cast("double").alias("sy"),
        F.sum(F.round(F.col("xs") * F.col("ys"), 9).cast("decimal(38,9)"))
        .cast("double")
        .alias("sxy"),
    )
    beta_co = (
        F.col("m") * F.col("sxy") - F.col("sx") * F.col("sy")
    ) / (F.col("m") * F.col("sxx") - F.col("sx") * F.col("sx"))
    return (
        stats.select("n")
        .crossJoin(rho)
        .crossJoin(coefs.select("b"))
        .crossJoin(tsum)
        .select(
            F.col("n").cast("bigint").alias("n_days"),
            F.round(F.col("rho"), 6).alias("rho_hat"),
            F.round(F.col("b"), 6).alias("beta_ols"),
            F.round(beta_co, 6).alias("beta_co"),
        )
    )


# ---------------------------------------------------------------------------
# Lomb-Scargle periodogram — spectral power on an IRREGULARLY sampled
# series (the classic astronomy estimator; the registry's DFT queries
# assume regular sampling). The irregular grid is real: only days with
# an ODD order count enter (≈half the calendar, gap structure varies).
# Determinism: the series is standardized on a 6-dp lattice from exact
# integer moments; every transcendental term (cos/sin at identical
# double args, ω baked as a repr literal) is rounded to the 12-dp
# lattice and summed in DECIMAL — the house spectral discipline. The
# phase offset tau comes from the first-pass decimal sums via atan2.
import math as _math

_LS_PERIODS = (7.0, 30.0, 91.0, 365.0)


def _sql_lomb_scargle() -> str:
    per_freq = []
    for T in _LS_PERIODS:
        w = 2.0 * _math.pi / T
        w2 = 2.0 * w
        per_freq.append(
            f"""(
      SELECT CAST({T!r} AS DOUBLE) AS period,
             p2.m,
             round(0.5 * (p2.zc * p2.zc / p2.cc + p2.zs * p2.zs / p2.ss), 6)
               AS power
      FROM (
        SELECT COUNT(*) AS m,
               CAST(SUM(CAST(round(z * cos({w!r} * tt - (SELECT ph FROM (
                 SELECT atan2(
                   CAST(SUM(CAST(round(sin({w2!r} * tt), 12) AS DECIMAL(38,12))) AS DOUBLE),
                   CAST(SUM(CAST(round(cos({w2!r} * tt), 12) AS DECIMAL(38,12))) AS DOUBLE)
                 ) / 2.0 AS ph FROM zser))), 12) AS DECIMAL(38,12))) AS DOUBLE) AS zc,
               CAST(SUM(CAST(round(z * sin({w!r} * tt - (SELECT ph FROM (
                 SELECT atan2(
                   CAST(SUM(CAST(round(sin({w2!r} * tt), 12) AS DECIMAL(38,12))) AS DOUBLE),
                   CAST(SUM(CAST(round(cos({w2!r} * tt), 12) AS DECIMAL(38,12))) AS DOUBLE)
                 ) / 2.0 AS ph FROM zser))), 12) AS DECIMAL(38,12))) AS DOUBLE) AS zs,
               CAST(SUM(CAST(round(pow(cos({w!r} * tt - (SELECT ph FROM (
                 SELECT atan2(
                   CAST(SUM(CAST(round(sin({w2!r} * tt), 12) AS DECIMAL(38,12))) AS DOUBLE),
                   CAST(SUM(CAST(round(cos({w2!r} * tt), 12) AS DECIMAL(38,12))) AS DOUBLE)
                 ) / 2.0 AS ph FROM zser))), 2), 12) AS DECIMAL(38,12))) AS DOUBLE) AS cc,
               CAST(SUM(CAST(round(pow(sin({w!r} * tt - (SELECT ph FROM (
                 SELECT atan2(
                   CAST(SUM(CAST(round(sin({w2!r} * tt), 12) AS DECIMAL(38,12))) AS DOUBLE),
                   CAST(SUM(CAST(round(cos({w2!r} * tt), 12) AS DECIMAL(38,12))) AS DOUBLE)
                 ) / 2.0 AS ph FROM zser))), 2), 12) AS DECIMAL(38,12))) AS DOUBLE) AS ss
        FROM zser
      ) p2
    )"""
        )
    sel = "\n    UNION ALL ".join(per_freq)
    return f"""
    WITH dailyc AS (
      SELECT o_orderdate AS d,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT) AS y,
             COUNT(*) AS c
      FROM orders GROUP BY 1
    ),
    spine AS (
      SELECT row_number() OVER (ORDER BY d) AS rn, y, c FROM dailyc
    ),
    sub AS MATERIALIZED (SELECT rn, y FROM spine WHERE c % 2 = 1),
    mom AS (
      SELECT COUNT(*) AS m,
             CAST(SUM(CAST(y AS DECIMAL(38,0))) AS DOUBLE) AS s,
             CAST(SUM(CAST(y AS DECIMAL(38,0)) * CAST(y AS DECIMAL(38,0)))
                  AS DOUBLE) AS ss
      FROM sub
    ),
    zser AS MATERIALIZED (
      SELECT CAST(rn AS DOUBLE) AS tt,
             round((CAST(y AS DOUBLE) - (SELECT s / m FROM mom))
                   / sqrt(((SELECT m FROM mom) * (SELECT ss FROM mom)
                           - (SELECT s FROM mom) * (SELECT s FROM mom))
                          / (CAST((SELECT m FROM mom) AS DOUBLE)
                             * ((SELECT m FROM mom) - 1))), 6) AS z
      FROM sub
    )
    SELECT period, CAST(m AS BIGINT) AS n_samples, power
    FROM ({sel}) ORDER BY period
    """


@_q("lomb_scargle_periodogram", _sql_lomb_scargle())
def q_lomb_scargle_periodogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = t(spark, sf_dir, "orders")
    dailyc = orders.groupBy(F.col("o_orderdate").alias("d")).agg(
        (F.sum(F.col("o_totalprice").cast("decimal(18,2)")) * 100)
        .cast("bigint")
        .alias("y"),
        F.count(F.lit(1)).alias("c"),
    )
    spine = dailyc.select(
        F.row_number().over(Window.orderBy("d")).alias("rn"), "y", "c"
    )
    sub = spine.where(F.col("c") % 2 == 1).select("rn", "y")
    mom = sub.agg(
        F.count(F.lit(1)).alias("m"),
        F.sum(F.col("y").cast("decimal(38,0)")).cast("double").alias("s"),
        F.sum(F.col("y").cast("decimal(38,0)") * F.col("y").cast("decimal(38,0)"))
        .cast("double")
        .alias("ss"),
    )
    zser = (
        sub.crossJoin(F.broadcast(mom))
        .select(
            F.col("rn").cast("double").alias("tt"),
            F.round(
                (F.col("y").cast("double") - F.col("s") / F.col("m"))
                / F.sqrt(
                    (F.col("m") * F.col("ss") - F.col("s") * F.col("s"))
                    / (F.col("m").cast("double") * (F.col("m") - 1))
                ),
                6,
            ).alias("z"),
            F.col("m"),
        )
        .localCheckpoint(eager=True)
    )

    def _d12(col):
        return F.sum(F.round(col, 12).cast("decimal(38,12)")).cast("double")

    out = None
    for T in _LS_PERIODS:
        w = 2.0 * _math.pi / T
        w2 = 2.0 * w
        p1 = zser.agg(
            _d12(F.sin(F.lit(w2) * F.col("tt"))).alias("s2"),
            _d12(F.cos(F.lit(w2) * F.col("tt"))).alias("c2"),
        ).select((F.atan2(F.col("s2"), F.col("c2")) / 2.0).alias("ph"))
        arg = F.lit(w) * F.col("tt") - F.col("ph")
        p2 = (
            zser.crossJoin(F.broadcast(p1))
            .agg(
                F.max("m").alias("m"),
                _d12(F.col("z") * F.cos(arg)).alias("zc"),
                _d12(F.col("z") * F.sin(arg)).alias("zs"),
                _d12(F.pow(F.cos(arg), 2)).alias("cc"),
                _d12(F.pow(F.sin(arg), 2)).alias("ss"),
            )
            .select(
                F.lit(T).alias("period"),
                F.col("m").cast("bigint").alias("n_samples"),
                F.round(
                    0.5
                    * (
                        F.col("zc") * F.col("zc") / F.col("cc")
                        + F.col("zs") * F.col("zs") / F.col("ss")
                    ),
                    6,
                ).alias("power"),
            )
        )
        out = p2 if out is None else out.unionByName(p2)
    return out.orderBy("period")


# ---------------------------------------------------------------------------
# Detrended fluctuation analysis (DFA-1) — the long-memory exponent:
# integrate the standardized series, split into segments of size s,
# linearly detrend each, and regress ln F(s) on ln s. The profile runs
# on an exact integer micro-lattice (z·1e6 as BIGINT, cumulative summed
# exactly), every per-segment RSS is a closed form over exact integer
# segment sums (the Var(x−trend) algebra), and the 4-point log-log
# slope is a fixed-arity pivot.
_DFA_SIZES = (16, 32, 64, 128)


def _sql_dfa() -> str:
    fcols = ", ".join(
        f"round(MAX(CASE WHEN s = {s} THEN f END), 6) AS f_{s}"
        for s in _DFA_SIZES
    )
    return f"""
    WITH {_SQL_SPINE},
    mom AS (
      SELECT COUNT(*) AS n,
             CAST(SUM(CAST(y AS DECIMAL(38,0))) AS DOUBLE) AS sm,
             CAST(SUM(CAST(y AS DECIMAL(38,0)) * CAST(y AS DECIMAL(38,0)))
                  AS DOUBLE) AS smm
      FROM spine
    ),
    z6 AS (
      SELECT rn,
             CAST(round(((CAST(y AS DOUBLE) - (SELECT sm / n FROM mom))
               / sqrt(((SELECT n FROM mom) * (SELECT smm FROM mom)
                       - (SELECT sm FROM mom) * (SELECT sm FROM mom))
                      / (CAST((SELECT n FROM mom) AS DOUBLE)
                         * ((SELECT n FROM mom) - 1)))) * 1e6, 0) AS BIGINT)
               AS z
      FROM spine
    ),
    prof AS MATERIALIZED (
      SELECT rn, CAST(SUM(z) OVER (ORDER BY rn) AS BIGINT) AS p FROM z6
    ),
    sizes AS (SELECT unnest([16, 32, 64, 128]) AS s),
    segsums AS (
      SELECT sz.s, (p.rn - 1) // sz.s AS seg,
             COUNT(*) AS cnt,
             CAST(SUM(CAST(p.p AS DECIMAL(38,0))) AS DOUBLE) AS sp,
             CAST(SUM(CAST(p.p AS DECIMAL(38,0)) * CAST(p.p AS DECIMAL(38,0)))
                  AS DOUBLE) AS spp,
             CAST(SUM(CAST((p.rn - ((p.rn - 1) // sz.s) * sz.s)
                           AS DECIMAL(38,0))
                      * CAST(p.p AS DECIMAL(38,0))) AS DOUBLE) AS sip
      FROM prof p CROSS JOIN sizes sz
      GROUP BY sz.s, (p.rn - 1) // sz.s
      HAVING COUNT(*) = sz.s
    ),
    rss AS (
      SELECT s,
             round(((spp - sp * sp / s)
                    - (sip - (s + 1) / 2.0 * sp) * (sip - (s + 1) / 2.0 * sp)
                      / (s * (CAST(s AS DOUBLE) * s - 1) / 12.0))
                   / (s * 1e12), 9) AS contrib
      FROM segsums
    ),
    fs AS (
      SELECT s,
             sqrt(CAST(SUM(CAST(contrib AS DECIMAL(38,9))) AS DOUBLE)
                  / COUNT(*)) AS f
      FROM rss GROUP BY s
    ),
    pts AS (SELECT ln(CAST(s AS DOUBLE)) AS x, ln(f) AS yv FROM fs),
    ols AS (
      SELECT COUNT(*) AS np,
             CAST(SUM(CAST(round(x, 12) AS DECIMAL(38,12))) AS DOUBLE) AS sx,
             CAST(SUM(CAST(round(yv, 12) AS DECIMAL(38,12))) AS DOUBLE) AS sy,
             CAST(SUM(CAST(round(x * x, 12) AS DECIMAL(38,12))) AS DOUBLE) AS sxx,
             CAST(SUM(CAST(round(x * yv, 12) AS DECIMAL(38,12))) AS DOUBLE) AS sxy
      FROM pts
    )
    SELECT round((np * sxy - sx * sy) / (np * sxx - sx * sx), 6) AS dfa_alpha,
           {fcols}
    FROM ols CROSS JOIN fs GROUP BY np, sx, sy, sxx, sxy
    """


@_q("detrended_fluctuation_alpha", _sql_dfa())
def q_detrended_fluctuation_alpha(spark: SparkSession, sf_dir: str) -> DataFrame:
    spine = _spine(spark, sf_dir)
    mom = spine.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("y").cast("decimal(38,0)")).cast("double").alias("sm"),
        F.sum(F.col("y").cast("decimal(38,0)") * F.col("y").cast("decimal(38,0)"))
        .cast("double")
        .alias("smm"),
    )
    z6 = spine.crossJoin(F.broadcast(mom)).select(
        "rn",
        F.round(
            (
                (F.col("y").cast("double") - F.col("sm") / F.col("n"))
                / F.sqrt(
                    (F.col("n") * F.col("smm") - F.col("sm") * F.col("sm"))
                    / (F.col("n").cast("double") * (F.col("n") - 1))
                )
            )
            * 1e6,
            0,
        )
        .cast("bigint")
        .alias("z"),
    )
    prof = z6.select(
        "rn", F.sum("z").over(Window.orderBy("rn")).cast("bigint").alias("p")
    )
    sizes = spark.createDataFrame(
        [(s,) for s in _DFA_SIZES], "s int"
    )
    seg = (F.col("rn") - 1) / F.col("s")
    segsums = (
        prof.crossJoin(F.broadcast(sizes))
        .groupBy("s", seg.cast("bigint").alias("seg"))
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.sum(F.col("p").cast("decimal(38,0)")).cast("double").alias("sp"),
            F.sum(F.col("p").cast("decimal(38,0)") * F.col("p").cast("decimal(38,0)"))
            .cast("double")
            .alias("spp"),
            F.sum(
                (F.col("rn") - ((F.col("rn") - 1) / F.col("s")).cast("bigint") * F.col("s"))
                .cast("decimal(38,0)")
                * F.col("p").cast("decimal(38,0)")
            )
            .cast("double")
            .alias("sip"),
        )
        .where(F.col("cnt") == F.col("s"))
    )
    sip_c = F.col("sip") - (F.col("s") + 1) / 2.0 * F.col("sp")
    rss = segsums.select(
        "s",
        F.round(
            (
                (F.col("spp") - F.col("sp") * F.col("sp") / F.col("s"))
                - sip_c
                * sip_c
                / (F.col("s") * (F.col("s").cast("double") * F.col("s") - 1) / 12.0)
            )
            / (F.col("s") * 1e12),
            9,
        ).alias("contrib"),
    )
    fs = rss.groupBy("s").agg(
        F.sqrt(
            F.sum(F.col("contrib").cast("decimal(38,9)")).cast("double")
            / F.count(F.lit(1))
        ).alias("f")
    )
    pts = fs.select(
        F.log(F.col("s").cast("double")).alias("x"), F.log("f").alias("yv")
    )
    ols = pts.agg(
        F.count(F.lit(1)).alias("np"),
        F.sum(F.round(F.col("x"), 12).cast("decimal(38,12)")).cast("double").alias("sx"),
        F.sum(F.round(F.col("yv"), 12).cast("decimal(38,12)")).cast("double").alias("sy"),
        F.sum(F.round(F.col("x") * F.col("x"), 12).cast("decimal(38,12)"))
        .cast("double")
        .alias("sxx"),
        F.sum(F.round(F.col("x") * F.col("yv"), 12).cast("decimal(38,12)"))
        .cast("double")
        .alias("sxy"),
    )
    fpivot = fs.agg(
        *[
            F.round(F.max(F.when(F.col("s") == s, F.col("f"))), 6).alias(f"f_{s}")
            for s in _DFA_SIZES
        ]
    )
    return ols.crossJoin(fpivot).select(
        F.round(
            (F.col("np") * F.col("sxy") - F.col("sx") * F.col("sy"))
            / (F.col("np") * F.col("sxx") - F.col("sx") * F.col("sx")),
            6,
        ).alias("dfa_alpha"),
        *[F.col(f"f_{s}") for s in _DFA_SIZES],
    )


# ---------------------------------------------------------------------------
# Exact Bayesian A/B posterior — P(p_B > p_A) under Beta(1,1) priors
# via the closed finite sum over integer parameters (Cook's formula):
# h = Σ_{i=0}^{α_B−1} B(α_A+i, β_A+β_B) / ((β_B+i)·B(1+i, β_B)·B(α_A, β_A)).
# log-Gamma is built as a shared exact table: LG(n) = Σ_{k<n} ln k with
# each ln k on the 12-dp lattice, cumulative-summed in DECIMAL —
# identical construction in both engines (no lgamma builtin needed on
# the Spark side). The per-term exp() values are lattice-summed. Arms
# are a deterministic bounded cohort (user_id < 400, split by parity).
_BB_COHORT = 400


def _sql_beta_binomial() -> str:
    return f"""
    WITH users AS MATERIALIZED (
      SELECT user_id,
             MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS conv
      FROM events WHERE user_id < {_BB_COHORT} GROUP BY user_id
    ),
    arms AS MATERIALIZED (
      SELECT CAST(SUM(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
             CAST(SUM(CASE WHEN user_id % 2 = 0 THEN conv ELSE 0 END) AS BIGINT) AS c_a,
             CAST(SUM(CASE WHEN user_id % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
             CAST(SUM(CASE WHEN user_id % 2 = 1 THEN conv ELSE 0 END) AS BIGINT) AS c_b
      FROM users
    ),
    ab AS MATERIALIZED (
      SELECT n_a, c_a, n_b, c_b,
             c_a + 1 AS aa, n_a - c_a + 1 AS ba,
             c_b + 1 AS ab_, n_b - c_b + 1 AS bb
      FROM arms
    ),
    lgc AS MATERIALIZED (
      -- cumulative ln-factorial: cum(m) = sum_{{k=2..m}} round(ln k, 12)
      SELECT m,
             CAST(SUM(CAST(round(ln(CAST(m2 AS DOUBLE)), 12) AS DECIMAL(38,12)))
                  OVER (ORDER BY m) AS DOUBLE) AS cum
      FROM (SELECT unnest(generate_series(2, {2 * _BB_COHORT + 8})) AS m) a
      JOIN (SELECT unnest(generate_series(2, {2 * _BB_COHORT + 8})) AS m2) b
        ON b.m2 = a.m
    ),
    terms AS (
      SELECT i.i,
             exp(
               -- lnB(aa+i, ba+bb) = LG(aa+i) + LG(ba+bb) - LG(aa+i+ba+bb)
               (COALESCE(l1.cum, 0) + COALESCE(l2.cum, 0) - COALESCE(l3.cum, 0))
               - ln(CAST(ab.bb + i.i AS DOUBLE))
               -- lnB(1+i, bb) = LG(1+i) + LG(bb) - LG(1+i+bb)
               - (COALESCE(l4.cum, 0) + COALESCE(l5.cum, 0) - COALESCE(l6.cum, 0))
               -- lnB(aa, ba) = LG(aa) + LG(ba) - LG(aa+ba)
               - (COALESCE(l7.cum, 0) + COALESCE(l8.cum, 0) - COALESCE(l9.cum, 0))
             ) AS term
      FROM (SELECT unnest(generate_series(0, {_BB_COHORT})) AS i) i
      CROSS JOIN ab
      LEFT JOIN lgc l1 ON l1.m = ab.aa + i.i - 1
      LEFT JOIN lgc l2 ON l2.m = ab.ba + ab.bb - 1
      LEFT JOIN lgc l3 ON l3.m = ab.aa + i.i + ab.ba + ab.bb - 1
      LEFT JOIN lgc l4 ON l4.m = i.i
      LEFT JOIN lgc l5 ON l5.m = ab.bb - 1
      LEFT JOIN lgc l6 ON l6.m = i.i + ab.bb
      LEFT JOIN lgc l7 ON l7.m = ab.aa - 1
      LEFT JOIN lgc l8 ON l8.m = ab.ba - 1
      LEFT JOIN lgc l9 ON l9.m = ab.aa + ab.ba - 1
      WHERE i.i < (SELECT ab_ FROM ab)
    )
    SELECT (SELECT n_a FROM ab) AS n_a,
           (SELECT c_a FROM ab) AS conv_a,
           (SELECT n_b FROM ab) AS n_b,
           (SELECT c_b FROM ab) AS conv_b,
           round(CAST(SUM(CAST(round(term, 12) AS DECIMAL(38,12))) AS DOUBLE), 6)
             AS p_b_beats_a
    FROM terms
    """


@_q("beta_binomial_ab_posterior", _sql_beta_binomial())
def q_beta_binomial_ab_posterior(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events").where(F.col("user_id") < _BB_COHORT)
    users = ev.groupBy("user_id").agg(
        F.max(
            F.when(F.col("event_type") == "purchase", 1).otherwise(0)
        ).alias("conv")
    )
    arms = users.agg(
        F.sum(F.when(F.col("user_id") % 2 == 0, 1).otherwise(0))
        .cast("bigint")
        .alias("n_a"),
        F.sum(F.when(F.col("user_id") % 2 == 0, F.col("conv")).otherwise(0))
        .cast("bigint")
        .alias("c_a"),
        F.sum(F.when(F.col("user_id") % 2 == 1, 1).otherwise(0))
        .cast("bigint")
        .alias("n_b"),
        F.sum(F.when(F.col("user_id") % 2 == 1, F.col("conv")).otherwise(0))
        .cast("bigint")
        .alias("c_b"),
    )
    ab = arms.select(
        "n_a",
        "c_a",
        "n_b",
        "c_b",
        (F.col("c_a") + 1).alias("aa"),
        (F.col("n_a") - F.col("c_a") + 1).alias("ba"),
        (F.col("c_b") + 1).alias("ab_"),
        (F.col("n_b") - F.col("c_b") + 1).alias("bb"),
    )
    lgc = (
        spark.range(2, 2 * _BB_COHORT + 9)
        .select(F.col("id").alias("m"))
        .select(
            "m",
            F.sum(
                F.round(F.log(F.col("m").cast("double")), 12).cast("decimal(38,12)")
            )
            .over(Window.orderBy("m"))
            .cast("double")
            .alias("cum"),
        )
        .localCheckpoint(eager=True)
    )

    irange = spark.range(0, _BB_COHORT + 1).select(F.col("id").alias("i"))
    base = irange.crossJoin(F.broadcast(ab)).where(F.col("i") < F.col("ab_"))

    joined = base
    lgdefs = [
        ("l1", F.col("aa") + F.col("i") - 1),
        ("l2", F.col("ba") + F.col("bb") - 1),
        ("l3", F.col("aa") + F.col("i") + F.col("ba") + F.col("bb") - 1),
        ("l4", F.col("i")),
        ("l5", F.col("bb") - 1),
        ("l6", F.col("i") + F.col("bb")),
        ("l7", F.col("aa") - 1),
        ("l8", F.col("ba") - 1),
        ("l9", F.col("aa") + F.col("ba") - 1),
    ]
    for alias, expr in lgdefs:
        lt = lgc.select(
            F.col("m").alias(f"m_{alias}"), F.col("cum").alias(alias)
        )
        joined = joined.join(
            F.broadcast(lt), expr == F.col(f"m_{alias}"), "left"
        ).drop(f"m_{alias}")
    lnterm = (
        (
            F.coalesce(F.col("l1"), F.lit(0.0))
            + F.coalesce(F.col("l2"), F.lit(0.0))
            - F.coalesce(F.col("l3"), F.lit(0.0))
        )
        - F.log((F.col("bb") + F.col("i")).cast("double"))
        - (
            F.coalesce(F.col("l4"), F.lit(0.0))
            + F.coalesce(F.col("l5"), F.lit(0.0))
            - F.coalesce(F.col("l6"), F.lit(0.0))
        )
        - (
            F.coalesce(F.col("l7"), F.lit(0.0))
            + F.coalesce(F.col("l8"), F.lit(0.0))
            - F.coalesce(F.col("l9"), F.lit(0.0))
        )
    )
    terms = joined.select(
        "n_a", "c_a", "n_b", "c_b", F.exp(lnterm).alias("term")
    )
    return terms.groupBy("n_a", "c_a", "n_b", "c_b").agg(
        F.round(
            F.sum(F.round(F.col("term"), 12).cast("decimal(38,12)")).cast("double"),
            6,
        ).alias("p_b_beats_a")
    ).select(
        F.col("n_a"),
        F.col("c_a").alias("conv_a"),
        F.col("n_b"),
        F.col("c_b").alias("conv_b"),
        "p_b_beats_a",
    )


# ---------------------------------------------------------------------------
# Turning-point test — series randomness via the count of local
# extrema: E[T] = 2(n−2)/3, Var[T] = (16n−29)/90. Pure integer
# counting over the bounded spine (ties cannot form turning points and
# are counted strictly).
@_q(
    "turning_point_test",
    f"""
    WITH {_SQL_SPINE},
    trip AS (
      SELECT a.y AS yl, b.y AS yc, c.y AS yr
      FROM spine a JOIN spine b ON b.rn = a.rn + 1
                   JOIN spine c ON c.rn = a.rn + 2
    ),
    agg AS (
      SELECT (SELECT COUNT(*) FROM spine) AS n,
             CAST(SUM(CASE WHEN (yc > yl AND yc > yr)
                             OR (yc < yl AND yc < yr)
                           THEN 1 ELSE 0 END) AS BIGINT) AS t
      FROM trip
    )
    SELECT CAST(n AS BIGINT) AS n_days, t AS turning_points,
           round((t - 2.0 * (n - 2) / 3.0)
                 / sqrt((16.0 * n - 29.0) / 90.0), 6) AS z_score
    FROM agg
    """,
)
def q_turning_point_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    spine = _spine(spark, sf_dir)
    b = spine.select(F.col("rn").alias("rnb"), F.col("y").alias("yc"))
    c = spine.select(F.col("rn").alias("rnc"), F.col("y").alias("yr"))
    trip = (
        spine.join(b, F.col("rnb") == F.col("rn") + 1)
        .join(c, F.col("rnc") == F.col("rn") + 2)
        .select(F.col("y").alias("yl"), "yc", "yr")
    )
    n = spine.count()  # bounded day spine
    agg = trip.agg(
        F.sum(
            F.when(
                ((F.col("yc") > F.col("yl")) & (F.col("yc") > F.col("yr")))
                | ((F.col("yc") < F.col("yl")) & (F.col("yc") < F.col("yr"))),
                1,
            ).otherwise(0)
        )
        .cast("bigint")
        .alias("t")
    )
    return agg.select(
        F.lit(n).cast("bigint").alias("n_days"),
        F.col("t").alias("turning_points"),
        F.round(
            (F.col("t") - 2.0 * (n - 2) / 3.0)
            / F.sqrt(F.lit((16.0 * n - 29.0) / 90.0)),
            6,
        ).alias("z_score"),
    )


# ---------------------------------------------------------------------------
# Upper-tail dependence coefficient — the copula risk statistic
# lambda_U ~ P(S > q-quantile | R > q-quantile) between daily revenue
# and its lag at q = 0.9. Ranks are deterministic (value, day-index
# tie-break), everything is exact integer counting.
@_q(
    "tail_dependence_coefficient",
    f"""
    WITH {_SQL_SPINE},
    pairs AS (
      SELECT a.rn, a.y AS yc, b.y AS yp
      FROM spine a JOIN spine b ON b.rn = a.rn - 1
    ),
    ranked AS (
      SELECT rn,
             row_number() OVER (ORDER BY yc, rn) AS r,
             row_number() OVER (ORDER BY yp, rn) AS s,
             COUNT(*) OVER () AS m
      FROM pairs
    ),
    agg AS (
      SELECT MAX(m) AS m,
             CAST(SUM(CASE WHEN r > 0.9 * m THEN 1 ELSE 0 END) AS BIGINT)
               AS n_hi,
             CAST(SUM(CASE WHEN r > 0.9 * m AND s > 0.9 * m THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_both
      FROM ranked
    )
    SELECT CAST(m AS BIGINT) AS n_pairs, n_hi, n_both,
           round(CAST(n_both AS DOUBLE) / n_hi, 6) AS lambda_upper
    FROM agg
    """,
)
def q_tail_dependence_coefficient(spark: SparkSession, sf_dir: str) -> DataFrame:
    spine = _spine(spark, sf_dir)
    b = spine.select(F.col("rn").alias("rn2"), F.col("y").alias("yp"))
    pairs = spine.join(b, F.col("rn2") == F.col("rn") - 1).select(
        "rn", F.col("y").alias("yc"), "yp"
    )
    wall = Window.partitionBy()
    ranked = pairs.select(
        F.row_number().over(Window.orderBy("yc", "rn")).alias("r"),
        F.row_number().over(Window.orderBy("yp", "rn")).alias("s"),
        F.count(F.lit(1)).over(wall).alias("m"),
    )
    agg = ranked.agg(
        F.max("m").alias("m"),
        F.sum(F.when(F.col("r") > 0.9 * F.col("m"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_hi"),
        F.sum(
            F.when(
                (F.col("r") > 0.9 * F.col("m"))
                & (F.col("s") > 0.9 * F.col("m")),
                1,
            ).otherwise(0)
        )
        .cast("bigint")
        .alias("n_both"),
    )
    return agg.select(
        F.col("m").cast("bigint").alias("n_pairs"),
        "n_hi",
        "n_both",
        F.round(F.col("n_both").cast("double") / F.col("n_hi"), 6).alias(
            "lambda_upper"
        ),
    )


# ---------------------------------------------------------------------------
# Hoeffding's D — the classic rank statistic sensitive to ARBITRARY
# (non-monotone) dependence, between daily revenue and its lag. Ranks
# use a deterministic day-index tie-break (documented: the fixture's
# cents series makes ties measure-zero); Q_i counts strictly
# concordant-dominated points via one bounded spine² pair join. D is a
# closed form over exact integer sums.
@_q(
    "hoeffding_d_dependence",
    f"""
    WITH {_SQL_SPINE},
    pairs AS (
      SELECT a.rn, a.y AS yc, b.y AS yp
      FROM spine a JOIN spine b ON b.rn = a.rn - 1
    ),
    ranked AS MATERIALIZED (
      SELECT rn,
             row_number() OVER (ORDER BY yc, rn) AS r,
             row_number() OVER (ORDER BY yp, rn) AS s
      FROM pairs
    ),
    q AS (
      SELECT a.rn, a.r, a.s,
             CAST(COUNT(b.rn) AS BIGINT) AS qq
      FROM ranked a LEFT JOIN ranked b
        ON b.r < a.r AND b.s < a.s
      GROUP BY a.rn, a.r, a.s
    ),
    sums AS (
      SELECT COUNT(*) AS n,
             CAST(SUM(qq * (qq - 1)) AS DECIMAL(38,0)) AS d1,
             CAST(SUM(CAST((r - 1) * (r - 2) AS DECIMAL(19,0))
                      * CAST((s - 1) * (s - 2) AS DECIMAL(19,0)))
                  AS DECIMAL(38,0)) AS d2,
             CAST(SUM(CAST((r - 2) * (s - 2) AS DECIMAL(19,0))
                      * CAST(qq AS DECIMAL(19,0))) AS DECIMAL(38,0)) AS d3
      FROM q
    )
    SELECT CAST(n AS BIGINT) AS n_pairs,
           round(30.0 * ((n - 2.0) * (n - 3.0) * CAST(d1 AS DOUBLE)
                         + CAST(d2 AS DOUBLE)
                         - 2.0 * (n - 2.0) * CAST(d3 AS DOUBLE))
                 / (CAST(n AS DOUBLE) * (n - 1.0) * (n - 2.0)
                    * (n - 3.0) * (n - 4.0)), 6) AS hoeffding_d
    FROM sums
    """,
)
def q_hoeffding_d_dependence(spark: SparkSession, sf_dir: str) -> DataFrame:
    spine = _spine(spark, sf_dir)
    b = spine.select(F.col("rn").alias("rn2"), F.col("y").alias("yp"))
    pairs = spine.join(b, F.col("rn2") == F.col("rn") - 1).select(
        "rn", F.col("y").alias("yc"), "yp"
    )
    ranked = pairs.select(
        "rn",
        F.row_number().over(Window.orderBy("yc", "rn")).alias("r"),
        F.row_number().over(Window.orderBy("yp", "rn")).alias("s"),
    ).localCheckpoint(eager=True)
    rb = ranked.select(
        F.col("rn").alias("rnb"), F.col("r").alias("rb"), F.col("s").alias("sb")
    )
    q = (
        ranked.join(
            rb, (F.col("rb") < F.col("r")) & (F.col("sb") < F.col("s")), "left"
        )
        .groupBy("rn", "r", "s")
        .agg(F.count("rnb").cast("bigint").alias("qq"))
    )
    sums = q.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("qq") * (F.col("qq") - 1)).cast("decimal(38,0)").alias("d1"),
        F.sum(
            ((F.col("r") - 1) * (F.col("r") - 2)).cast("decimal(19,0)")
            * ((F.col("s") - 1) * (F.col("s") - 2)).cast("decimal(19,0)")
        )
        .cast("decimal(38,0)")
        .alias("d2"),
        F.sum(
            ((F.col("r") - 2) * (F.col("s") - 2)).cast("decimal(19,0)")
            * F.col("qq").cast("decimal(19,0)")
        )
        .cast("decimal(38,0)")
        .alias("d3"),
    )
    n = F.col("n").cast("double")
    return sums.select(
        F.col("n").cast("bigint").alias("n_pairs"),
        F.round(
            30.0
            * (
                (n - 2.0) * (n - 3.0) * F.col("d1").cast("double")
                + F.col("d2").cast("double")
                - 2.0 * (n - 2.0) * F.col("d3").cast("double")
            )
            / (n * (n - 1.0) * (n - 2.0) * (n - 3.0) * (n - 4.0)),
            6,
        ).alias("hoeffding_d"),
    )


# ---------------------------------------------------------------------------
# Distance correlation (Székely-Rizzo dCor) between daily revenue and
# the day index — detects arbitrary dependence where Pearson sees
# none. All three double-centering moments (S1, S2, S3) reduce to
# exact integer pairwise sums and per-row pairwise row-sums over the
# bounded spine; the final assembly is one fixed expression.
@_q(
    "distance_correlation_daily",
    f"""
    WITH {_SQL_SPINE},
    rowsums AS MATERIALIZED (
      SELECT a.rn,
             CAST(SUM(CAST(abs(a.y - b.y) AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS ay,
             CAST(SUM(CAST(abs(a.rn - b.rn) AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS at
      FROM spine a CROSS JOIN spine b
      GROUP BY a.rn
    ),
    s1 AS (
      SELECT CAST(SUM(CAST(abs(a.y - b.y) AS DECIMAL(38,0))
                      * CAST(abs(a.rn - b.rn) AS DECIMAL(38,0)))
                  AS DECIMAL(38,0)) AS v,
             CAST(SUM(CAST(abs(a.y - b.y) AS DECIMAL(38,0))
                      * CAST(abs(a.y - b.y) AS DECIMAL(38,0)))
                  AS DECIMAL(38,0)) AS vyy,
             CAST(SUM(CAST(abs(a.rn - b.rn) AS DECIMAL(38,0))
                      * CAST(abs(a.rn - b.rn) AS DECIMAL(38,0)))
                  AS DECIMAL(38,0)) AS vtt
      FROM spine a CROSS JOIN spine b
    ),
    tot AS (
      SELECT (SELECT COUNT(*) FROM spine) AS n,
             CAST(SUM(ay) AS DECIMAL(38,0)) AS say,
             CAST(SUM(at) AS DECIMAL(38,0)) AS sat,
             CAST(SUM(ay * at) AS DECIMAL(38,0)) AS sprod,
             CAST(SUM(ay * ay) AS DECIMAL(38,0)) AS sayy,
             CAST(SUM(at * at) AS DECIMAL(38,0)) AS satt
      FROM rowsums
    )
    SELECT CAST(n AS BIGINT) AS n_days,
           round(
             (CAST((SELECT v FROM s1) AS DOUBLE) / (CAST(n AS DOUBLE) * n)
              + CAST(say AS DOUBLE) / (CAST(n AS DOUBLE) * n)
                * CAST(sat AS DOUBLE) / (CAST(n AS DOUBLE) * n)
              - 2.0 * CAST(sprod AS DOUBLE)
                / (CAST(n AS DOUBLE) * n * n))
             / sqrt(
               (CAST((SELECT vyy FROM s1) AS DOUBLE) / (CAST(n AS DOUBLE) * n)
                + CAST(say AS DOUBLE) / (CAST(n AS DOUBLE) * n)
                  * CAST(say AS DOUBLE) / (CAST(n AS DOUBLE) * n)
                - 2.0 * CAST(sayy AS DOUBLE) / (CAST(n AS DOUBLE) * n * n))
               * (CAST((SELECT vtt FROM s1) AS DOUBLE) / (CAST(n AS DOUBLE) * n)
                  + CAST(sat AS DOUBLE) / (CAST(n AS DOUBLE) * n)
                    * CAST(sat AS DOUBLE) / (CAST(n AS DOUBLE) * n)
                  - 2.0 * CAST(satt AS DOUBLE) / (CAST(n AS DOUBLE) * n * n))),
             6) AS dcor_squared_ratio
    FROM tot
    """,
)
def q_distance_correlation_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    spine, n = counted_checkpoint(_spine(spark, sf_dir))  # bounded day spine
    b = spine.select(F.col("rn").alias("rn2"), F.col("y").alias("y2"))
    cross = spine.crossJoin(b)
    ady = F.abs(F.col("y") - F.col("y2")).cast("decimal(38,0)")
    adt = F.abs(F.col("rn") - F.col("rn2")).cast("decimal(38,0)")
    rowsums = cross.groupBy("rn").agg(
        F.sum(ady).cast("decimal(38,0)").alias("ay"),
        F.sum(adt).cast("decimal(38,0)").alias("at"),
    )
    s1 = cross.agg(
        F.sum(ady * adt).cast("decimal(38,0)").alias("v"),
        F.sum(ady * ady).cast("decimal(38,0)").alias("vyy"),
        F.sum(adt * adt).cast("decimal(38,0)").alias("vtt"),
    )
    tot = rowsums.agg(
        F.sum("ay").cast("decimal(38,0)").alias("say"),
        F.sum("at").cast("decimal(38,0)").alias("sat"),
        F.sum(F.col("ay") * F.col("at")).cast("decimal(38,0)").alias("sprod"),
        F.sum(F.col("ay") * F.col("ay")).cast("decimal(38,0)").alias("sayy"),
        F.sum(F.col("at") * F.col("at")).cast("decimal(38,0)").alias("satt"),
    )
    nd = float(n)

    def _cov(vcol, rc1, rc2, sq):
        return (
            vcol.cast("double") / (nd * n)
            + rc1.cast("double") / (nd * n) * rc2.cast("double") / (nd * n)
            - 2.0 * sq.cast("double") / (nd * n * n)
        )

    dcov = _cov(F.col("v"), F.col("say"), F.col("sat"), F.col("sprod"))
    dvy = _cov(F.col("vyy"), F.col("say"), F.col("say"), F.col("sayy"))
    dvt = _cov(F.col("vtt"), F.col("sat"), F.col("sat"), F.col("satt"))
    return s1.crossJoin(tot).select(
        F.lit(n).cast("bigint").alias("n_days"),
        F.round(dcov / F.sqrt(dvy * dvt), 6).alias("dcor_squared_ratio"),
    )


# ---------------------------------------------------------------------------
# Real-cepstrum periodicity — quefrency analysis: DFT power spectrum
# at K = 32 harmonics of the standardized daily series, log, then an
# inverse cosine transform over quefrency lags; the peak quefrency
# exposes periodic structure the raw spectrum spreads across
# harmonics. Same 12-dp lattice + DECIMAL sum discipline as the DFT
# queries; the argmax is tie-broken deterministically (max power, then
# smallest quefrency).
_CEP_K = 32
_CEP_QMAX = 16


def _sql_cepstrum() -> str:
    return f"""
    WITH {_SQL_SPINE},
    mom AS (
      SELECT COUNT(*) AS n,
             CAST(SUM(CAST(y AS DECIMAL(38,0))) AS DOUBLE) AS s,
             CAST(SUM(CAST(y AS DECIMAL(38,0)) * CAST(y AS DECIMAL(38,0)))
                  AS DOUBLE) AS ss
      FROM spine
    ),
    z AS MATERIALIZED (
      SELECT CAST(rn AS DOUBLE) AS tt,
             round((CAST(y AS DOUBLE) - (SELECT s / n FROM mom))
                   / sqrt(((SELECT n FROM mom) * (SELECT ss FROM mom)
                           - (SELECT s FROM mom) * (SELECT s FROM mom))
                          / (CAST((SELECT n FROM mom) AS DOUBLE)
                             * ((SELECT n FROM mom) - 1))), 6) AS zv,
             (SELECT n FROM mom) AS n
      FROM spine
    ),
    ks AS (SELECT unnest(generate_series(1, {_CEP_K})) AS k),
    spec AS MATERIALIZED (
      SELECT k.k,
             ln(pow(CAST(SUM(CAST(round(z.zv * cos(2 * pi() * k.k * z.tt / z.n), 12)
                                  AS DECIMAL(38,12))) AS DOUBLE), 2)
                + pow(CAST(SUM(CAST(round(z.zv * sin(2 * pi() * k.k * z.tt / z.n), 12)
                                   AS DECIMAL(38,12))) AS DOUBLE), 2)
                + 1e-12) AS logp
      FROM z CROSS JOIN ks k GROUP BY k.k
    ),
    qs AS (SELECT unnest(generate_series(2, {_CEP_QMAX})) AS q),
    cep AS (
      SELECT q.q,
             CAST(SUM(CAST(round(s.logp * cos(2 * pi() * s.k * q.q / {_CEP_K}.0), 12)
                           AS DECIMAL(38,12))) AS DOUBLE) / {_CEP_K}.0 AS c
      FROM spec s CROSS JOIN qs q GROUP BY q.q
    )
    SELECT CAST(q AS INT) AS peak_quefrency,
           round(c, 6) AS cepstrum_peak
    FROM cep ORDER BY c DESC, q ASC LIMIT 1
    """


@_q("cepstrum_periodicity", _sql_cepstrum())
def q_cepstrum_periodicity(spark: SparkSession, sf_dir: str) -> DataFrame:
    spine = _spine(spark, sf_dir)
    mom = spine.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("y").cast("decimal(38,0)")).cast("double").alias("s"),
        F.sum(F.col("y").cast("decimal(38,0)") * F.col("y").cast("decimal(38,0)"))
        .cast("double")
        .alias("ss"),
    )
    z = (
        spine.crossJoin(F.broadcast(mom))
        .select(
            F.col("rn").cast("double").alias("tt"),
            F.round(
                (F.col("y").cast("double") - F.col("s") / F.col("n"))
                / F.sqrt(
                    (F.col("n") * F.col("ss") - F.col("s") * F.col("s"))
                    / (F.col("n").cast("double") * (F.col("n") - 1))
                ),
                6,
            ).alias("zv"),
            F.col("n"),
        )
        .localCheckpoint(eager=True)
    )
    ks = spark.range(1, _CEP_K + 1).select(F.col("id").cast("int").alias("k"))
    arg = 2 * F.lit(_math.pi) * F.col("k") * F.col("tt") / F.col("n")
    spec = (
        z.crossJoin(F.broadcast(ks))
        .groupBy("k")
        .agg(
            F.log(
                F.pow(
                    F.sum(
                        F.round(F.col("zv") * F.cos(arg), 12).cast("decimal(38,12)")
                    ).cast("double"),
                    2,
                )
                + F.pow(
                    F.sum(
                        F.round(F.col("zv") * F.sin(arg), 12).cast("decimal(38,12)")
                    ).cast("double"),
                    2,
                )
                + 1e-12
            ).alias("logp")
        )
    )
    qs = spark.range(2, _CEP_QMAX + 1).select(F.col("id").cast("int").alias("q"))
    qarg = 2 * F.lit(_math.pi) * F.col("k") * F.col("q") / float(_CEP_K)
    cep = (
        spec.crossJoin(F.broadcast(qs))
        .groupBy("q")
        .agg(
            (
                F.sum(
                    F.round(F.col("logp") * F.cos(qarg), 12).cast("decimal(38,12)")
                ).cast("double")
                / float(_CEP_K)
            ).alias("c")
        )
    )
    return (
        cep.orderBy(F.desc("c"), F.asc("q"))
        .limit(1)
        .select(
            F.col("q").cast("int").alias("peak_quefrency"),
            F.round(F.col("c"), 6).alias("cepstrum_peak"),
        )
    )


# ---------------------------------------------------------------------------
# Geographically weighted regression — per-cell local coefficients of
# acctbal on the x coordinate with a bisquare kernel over the 3x3
# neighbor-cell window (the GWR fan-out shape: each cell's regression
# touches only its bounded neighborhood, never the global point set).
# Weights are pure arithmetic on integer coordinates (no
# transcendentals), so per-term doubles are bit-identical; sums go
# through the 9-dp lattice.
_GWR_CELL = 5.0
_GWR_H = 7.5  # bisquare bandwidth: covers the 3x3 cell window


def _sql_gwr() -> str:
    return f"""
    WITH pts AS (
      SELECT c_custkey AS point_id,
             CAST(c_custkey % 40 AS DOUBLE) AS px,
             CAST(c_custkey % 30 AS DOUBLE) AS py,
             CAST(c_acctbal AS DOUBLE) AS val
      FROM customer
    ),
    cells AS (
      SELECT DISTINCT CAST(floor(px / {_GWR_CELL}) AS INTEGER) AS gx,
                      CAST(floor(py / {_GWR_CELL}) AS INTEGER) AS gy
      FROM pts
    ),
    offs AS (
      SELECT dx.v AS dx, dy.v AS dy
      FROM (SELECT unnest([-1, 0, 1]) AS v) dx,
           (SELECT unnest([-1, 0, 1]) AS v) dy
    ),
    contrib AS (
      SELECT c.gx, c.gy,
             pow(1.0 - ((p.px - (c.gx * {_GWR_CELL} + 2.5))
                        * (p.px - (c.gx * {_GWR_CELL} + 2.5))
                        + (p.py - (c.gy * {_GWR_CELL} + 2.5))
                        * (p.py - (c.gy * {_GWR_CELL} + 2.5)))
                      / ({_GWR_H} * {_GWR_H}), 2) AS w,
             p.px, p.val
      FROM cells c
      JOIN offs o ON TRUE
      JOIN pts p
        ON CAST(floor(p.px / {_GWR_CELL}) AS INTEGER) = c.gx + o.dx
       AND CAST(floor(p.py / {_GWR_CELL}) AS INTEGER) = c.gy + o.dy
      WHERE ((p.px - (c.gx * {_GWR_CELL} + 2.5))
             * (p.px - (c.gx * {_GWR_CELL} + 2.5))
             + (p.py - (c.gy * {_GWR_CELL} + 2.5))
             * (p.py - (c.gy * {_GWR_CELL} + 2.5)))
            < {_GWR_H} * {_GWR_H}
    ),
    sums AS (
      SELECT gx, gy, COUNT(*) AS n_pts,
             CAST(SUM(CAST(round(w, 9) AS DECIMAL(38,9))) AS DOUBLE) AS sw,
             CAST(SUM(CAST(round(w * px, 9) AS DECIMAL(38,9))) AS DOUBLE) AS swx,
             CAST(SUM(CAST(round(w * px * px, 9) AS DECIMAL(38,9))) AS DOUBLE) AS swxx,
             CAST(SUM(CAST(round(w * val, 9) AS DECIMAL(38,9))) AS DOUBLE) AS swy,
             CAST(SUM(CAST(round(w * px * val, 9) AS DECIMAL(38,9))) AS DOUBLE) AS swxy
      FROM contrib GROUP BY gx, gy
    )
    SELECT CAST(gx AS INT) AS gx, CAST(gy AS INT) AS gy,
           CAST(n_pts AS BIGINT) AS n_pts,
           round((sw * swxy - swx * swy) / (sw * swxx - swx * swx), 6)
             AS local_slope
    FROM sums WHERE sw * swxx - swx * swx <> 0.0
    """


@_q("gwr_local_coefficients", _sql_gwr())
def q_gwr_local_coefficients(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = t(spark, sf_dir, "customer")
    pts = cust.select(
        (F.col("c_custkey") % 40).cast("double").alias("px"),
        (F.col("c_custkey") % 30).cast("double").alias("py"),
        F.col("c_acctbal").cast("double").alias("val"),
        F.floor(F.col("c_custkey") % 40 / _GWR_CELL).cast("int").alias("cx"),
        F.floor(F.col("c_custkey") % 30 / _GWR_CELL).cast("int").alias("cy"),
    )
    cells = pts.select(
        F.col("cx").alias("gx"), F.col("cy").alias("gy")
    ).distinct()
    offs = spark.createDataFrame(
        [(dx, dy) for dx in (-1, 0, 1) for dy in (-1, 0, 1)], "dx int, dy int"
    )
    tgt = cells.crossJoin(F.broadcast(offs)).select(
        "gx", "gy", (F.col("gx") + F.col("dx")).alias("nx"),
        (F.col("gy") + F.col("dy")).alias("ny"),
    )
    joined = tgt.join(
        pts, (F.col("nx") == F.col("cx")) & (F.col("ny") == F.col("cy"))
    )
    dx = F.col("px") - (F.col("gx") * _GWR_CELL + 2.5)
    dy = F.col("py") - (F.col("gy") * _GWR_CELL + 2.5)
    d2 = dx * dx + dy * dy
    w = F.pow(1.0 - d2 / (_GWR_H * _GWR_H), 2)
    contrib = joined.where(d2 < _GWR_H * _GWR_H).select(
        "gx", "gy", w.alias("w"), "px", "val"
    )

    def _d9(col):
        return F.sum(F.round(col, 9).cast("decimal(38,9)")).cast("double")

    sums = contrib.groupBy("gx", "gy").agg(
        F.count(F.lit(1)).alias("n_pts"),
        _d9(F.col("w")).alias("sw"),
        _d9(F.col("w") * F.col("px")).alias("swx"),
        _d9(F.col("w") * F.col("px") * F.col("px")).alias("swxx"),
        _d9(F.col("w") * F.col("val")).alias("swy"),
        _d9(F.col("w") * F.col("px") * F.col("val")).alias("swxy"),
    )
    den = F.col("sw") * F.col("swxx") - F.col("swx") * F.col("swx")
    return sums.where(den != 0.0).select(
        F.col("gx").cast("int").alias("gx"),
        F.col("gy").cast("int").alias("gy"),
        F.col("n_pts").cast("bigint").alias("n_pts"),
        F.round(
            (F.col("sw") * F.col("swxy") - F.col("swx") * F.col("swy")) / den, 6
        ).alias("local_slope"),
    )


# ---------------------------------------------------------------------------
# Platt scaling — logistic calibration of a raw score onto outcome
# probability, the standard post-hoc calibrator next to the registry's
# isotonic PAV. Scores are bucketed to 100 exact-integer cells first
# (price centile vs urgent-priority outcome), so the 2-parameter
# Newton iteration runs over a BOUNDED sufficient-statistics table;
# each iteration's six sums go through the 12-dp lattice and the (A,B)
# scalars re-round through the engines' own round() in lockstep (the
# EM/IRLS house pattern).
_PLATT_ITERS = 5


def _sql_platt() -> str:
    ctes = [
        """buckets AS MATERIALIZED (
      SELECT least(CAST(floor(o_totalprice / 6000.0) AS INTEGER), 99) AS b,
             CAST(least(CAST(floor(o_totalprice / 6000.0) AS INTEGER), 99)
                  AS DOUBLE) / 100.0 AS s,
             CAST(SUM(CASE WHEN o_orderpriority = '1-URGENT'
                           THEN 1 ELSE 0 END) AS BIGINT) AS np,
             CAST(SUM(CASE WHEN o_orderpriority = '1-URGENT'
                           THEN 0 ELSE 1 END) AS BIGINT) AS nn
      FROM orders GROUP BY 1, 2
    ),
    it0 AS (SELECT 0.0 AS a, 0.0 AS b)"""
    ]
    for k in range(_PLATT_ITERS):
        ctes.append(
            f"""g{k} AS (
      SELECT
        CAST(SUM(CAST(round(((bk.np + bk.nn) / (1.0 + exp(-(it.a * bk.s + it.b)))
                             - bk.np) * bk.s, 12) AS DECIMAL(38,12))) AS DOUBLE) AS ga,
        CAST(SUM(CAST(round((bk.np + bk.nn) / (1.0 + exp(-(it.a * bk.s + it.b)))
                            - bk.np, 12) AS DECIMAL(38,12))) AS DOUBLE) AS gb,
        CAST(SUM(CAST(round((bk.np + bk.nn)
                            * (1.0 / (1.0 + exp(-(it.a * bk.s + it.b))))
                            * (1.0 - 1.0 / (1.0 + exp(-(it.a * bk.s + it.b))))
                            * bk.s * bk.s, 12) AS DECIMAL(38,12))) AS DOUBLE) AS haa,
        CAST(SUM(CAST(round((bk.np + bk.nn)
                            * (1.0 / (1.0 + exp(-(it.a * bk.s + it.b))))
                            * (1.0 - 1.0 / (1.0 + exp(-(it.a * bk.s + it.b))))
                            * bk.s, 12) AS DECIMAL(38,12))) AS DOUBLE) AS hab,
        CAST(SUM(CAST(round((bk.np + bk.nn)
                            * (1.0 / (1.0 + exp(-(it.a * bk.s + it.b))))
                            * (1.0 - 1.0 / (1.0 + exp(-(it.a * bk.s + it.b)))),
                            12) AS DECIMAL(38,12))) AS DOUBLE) AS hbb
      FROM buckets bk CROSS JOIN it{k} it
    ),
    it{k + 1} AS (
      SELECT round(it.a - (g.hbb * g.ga - g.hab * g.gb)
                   / (g.haa * g.hbb - g.hab * g.hab), 12) AS a,
             round(it.b - (g.haa * g.gb - g.hab * g.ga)
                   / (g.haa * g.hbb - g.hab * g.hab), 12) AS b
      FROM it{k} it CROSS JOIN g{k} g
    )"""
        )
    return (
        "WITH "
        + ",\n    ".join(ctes)
        + f"""
    SELECT CAST((SELECT COUNT(*) FROM buckets) AS BIGINT) AS n_buckets,
           round(a, 6) AS platt_a, round(b, 6) AS platt_b,
           round(1.0 / (1.0 + exp(-(a * 0.5 + b))), 6) AS p_at_mid
    FROM it{_PLATT_ITERS}
    """
    )


@_q("platt_scaling_calibration", _sql_platt())
def q_platt_scaling_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = t(spark, sf_dir, "orders")
    bcol = F.least(
        F.floor(F.col("o_totalprice") / 6000.0).cast("int"), F.lit(99)
    )
    buckets = (
        orders.groupBy(
            bcol.alias("bk"), (bcol.cast("double") / 100.0).alias("s")
        )
        .agg(
            F.sum(
                F.when(F.col("o_orderpriority") == "1-URGENT", 1).otherwise(0)
            )
            .cast("bigint")
            .alias("np"),
            F.sum(
                F.when(F.col("o_orderpriority") == "1-URGENT", 0).otherwise(1)
            )
            .cast("bigint")
            .alias("nn"),
        )
        .localCheckpoint(eager=True)
    )
    ab = spark.range(1).select(
        F.lit(0.0).alias("a"), F.lit(0.0).alias("b")
    )

    def _d12(col):
        return F.sum(F.round(col, 12).cast("decimal(38,12)")).cast("double")

    for _ in range(_PLATT_ITERS):
        p = 1.0 / (1.0 + F.exp(-(F.col("a") * F.col("s") + F.col("b"))))
        cnt = F.col("np") + F.col("nn")
        g = (
            buckets.crossJoin(F.broadcast(ab))
            .agg(
                _d12((cnt * p - F.col("np")) * F.col("s")).alias("ga"),
                _d12(cnt * p - F.col("np")).alias("gb"),
                _d12(cnt * p * (1.0 - p) * F.col("s") * F.col("s")).alias("haa"),
                _d12(cnt * p * (1.0 - p) * F.col("s")).alias("hab"),
                _d12(cnt * p * (1.0 - p)).alias("hbb"),
            )
        )
        det = F.col("haa") * F.col("hbb") - F.col("hab") * F.col("hab")
        ab = (
            ab.crossJoin(g)
            .select(
                F.round(
                    F.col("a")
                    - (F.col("hbb") * F.col("ga") - F.col("hab") * F.col("gb"))
                    / det,
                    12,
                ).alias("a"),
                F.round(
                    F.col("b")
                    - (F.col("haa") * F.col("gb") - F.col("hab") * F.col("ga"))
                    / det,
                    12,
                ).alias("b"),
            )
            .localCheckpoint(eager=True)
        )
    nb = buckets.agg(F.count(F.lit(1)).cast("bigint").alias("n_buckets"))
    return ab.crossJoin(F.broadcast(nb)).select(
        "n_buckets",
        F.round(F.col("a"), 6).alias("platt_a"),
        F.round(F.col("b"), 6).alias("platt_b"),
        F.round(
            1.0 / (1.0 + F.exp(-(F.col("a") * 0.5 + F.col("b")))), 6
        ).alias("p_at_mid"),
    )


# ---------------------------------------------------------------------------
# Soundex phonetic blocking — the classic entity-resolution blocker
# beside the registry's edit-distance/q-gram matchers: American
# Soundex of each distinct part-name color word (first letter kept,
# H/W-transparent consonant codes, run collapse, vowel reset), then a
# per-code census of the candidate blocks. Implemented with
# translate + regexp collapse in BOTH engines (no soundex builtin
# needed; Spark collapses runs with a $1 backreference, DuckDB's RE2
# has no backreferences so it chains one per-digit collapse — same
# semantics, engine-native spellings).
_SND_CONS = "BFPVCGJKQSXZDTLMNR"
_SND_CODE = "111122222222334556"


def _sql_soundex() -> str:
    return f"""
    WITH occurrences AS (
      SELECT upper(unnest(string_split(p_name, ' '))) AS w FROM part
    ),
    wordfreq AS MATERIALIZED (
      SELECT w, COUNT(*) AS n_occur FROM occurrences
      WHERE w <> '' GROUP BY w
    ),
    words AS (SELECT w FROM wordfreq),
    coded AS (
      SELECT w,
             substring(w, 1, 1) AS f,
             translate(substring(w, 1, 1), '{_SND_CONS}AEIOUYHW',
                       '{_SND_CODE}') AS fc,
             translate(translate(substring(w, 2), 'HW', ''),
                       '{_SND_CONS}AEIOUY', '{_SND_CODE}000000') AS body
      FROM words
    ),
    collapsed AS (
      -- DuckDB's regex engine is RE2: no backreferences, so runs of
      -- each digit collapse via one chained replace per code digit
      SELECT w, f, fc,
             regexp_replace(regexp_replace(regexp_replace(regexp_replace(
               regexp_replace(regexp_replace(regexp_replace(
                 fc || body,
                 '0{{2,}}', '0', 'g'), '1{{2,}}', '1', 'g'),
                 '2{{2,}}', '2', 'g'), '3{{2,}}', '3', 'g'),
                 '4{{2,}}', '4', 'g'), '5{{2,}}', '5', 'g'),
                 '6{{2,}}', '6', 'g') AS runs
      FROM coded
    ),
    sdx AS (
      SELECT w,
             f || rpad(substring(replace(
               substring(runs, 1 + length(fc)), '0', ''), 1, 3), 3, '0')
               AS code
      FROM collapsed
    ),
    census AS (
      SELECT s.code, COUNT(*) AS n_words,
             CAST(SUM(f.n_occur) AS BIGINT) AS n_occurrences
      FROM sdx s JOIN wordfreq f ON f.w = s.w
      GROUP BY s.code
    )
    SELECT code, CAST(n_words AS BIGINT) AS n_words, n_occurrences,
           CAST(n_words * (n_words - 1) / 2 AS BIGINT) AS n_candidate_pairs
    FROM census
    """


@_q("soundex_name_match", _sql_soundex())
def q_soundex_name_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = t(spark, sf_dir, "part")
    occurrences = part.select(
        F.explode(F.split(F.col("p_name"), " ")).alias("w0")
    ).select(F.upper(F.col("w0")).alias("w"))
    wordfreq = (
        occurrences.where(F.col("w") != "")
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("n_occur"))
        .localCheckpoint(eager=True)
    )
    words = wordfreq.select("w")
    f = F.substring(F.col("w"), 1, 1)
    fc = F.translate(f, _SND_CONS + "AEIOUYHW", _SND_CODE)
    body = F.translate(
        F.translate(F.expr("substring(w, 2)"), "HW", ""),
        _SND_CONS + "AEIOUY",
        _SND_CODE + "000000",
    )
    coded = words.select(
        "w", f.alias("f"), fc.alias("fc"), body.alias("body")
    )
    runs = F.regexp_replace(
        F.concat(F.col("fc"), F.col("body")), "([0-9])\\1+", "$1"
    )
    collapsed = coded.select("w", "f", "fc", runs.alias("runs"))
    tail3 = F.rpad(
        F.substring(
            F.replace(
                F.expr("substring(runs, 1 + length(fc))"), F.lit("0"), F.lit("")
            ),
            1,
            3,
        ),
        3,
        "0",
    )
    sdx = collapsed.select(
        "w", F.concat(F.col("f"), tail3).alias("code")
    )
    census = sdx.join(wordfreq, "w").groupBy("code").agg(
        F.count(F.lit(1)).alias("n_words"),
        F.sum("n_occur").cast("bigint").alias("n_occurrences"),
    )
    return census.select(
        "code",
        F.col("n_words").cast("bigint").alias("n_words"),
        "n_occurrences",
        (F.col("n_words") * (F.col("n_words") - 1) / 2)
        .cast("bigint")
        .alias("n_candidate_pairs"),
    )


# ---------------------------------------------------------------------------
# Ordinal association family — concordant/discordant pair counts
# between daily revenue and its lag, reported as Goodman-Kruskal gamma
# and both Somers' D asymmetries (the credit-scoring "Gini"
# accuracy-ratio statistic). Complements kendall_tau_b with the
# tie-asymmetric members of the family. One bounded spine² pair join,
# exact integer counting throughout.
@_q(
    "ordinal_association_family",
    f"""
    WITH {_SQL_SPINE},
    pairs AS (
      SELECT a.rn, a.y AS yc, b.y AS yp
      FROM spine a JOIN spine b ON b.rn = a.rn - 1
    ),
    pp AS (
      SELECT CAST(SUM(CASE WHEN (a.yc < b.yc AND a.yp < b.yp)
                             OR (a.yc > b.yc AND a.yp > b.yp)
                           THEN 1 ELSE 0 END) AS BIGINT) AS c,
             CAST(SUM(CASE WHEN (a.yc < b.yc AND a.yp > b.yp)
                             OR (a.yc > b.yc AND a.yp < b.yp)
                           THEN 1 ELSE 0 END) AS BIGINT) AS d,
             CAST(SUM(CASE WHEN a.yc = b.yc AND a.yp <> b.yp
                           THEN 1 ELSE 0 END) AS BIGINT) AS tx,
             CAST(SUM(CASE WHEN a.yp = b.yp AND a.yc <> b.yc
                           THEN 1 ELSE 0 END) AS BIGINT) AS ty
      FROM pairs a JOIN pairs b ON a.rn < b.rn
    )
    SELECT c AS concordant, d AS discordant,
           tx AS ties_x_only, ty AS ties_y_only,
           round(CAST(c - d AS DOUBLE) / (c + d), 6) AS gk_gamma,
           round(CAST(c - d AS DOUBLE) / (c + d + ty), 6) AS somers_d_yx,
           round(CAST(c - d AS DOUBLE) / (c + d + tx), 6) AS somers_d_xy
    FROM pp
    """,
)
def q_ordinal_association_family(spark: SparkSession, sf_dir: str) -> DataFrame:
    spine = _spine(spark, sf_dir)
    b = spine.select(F.col("rn").alias("rn2"), F.col("y").alias("yp"))
    pairs = spine.join(b, F.col("rn2") == F.col("rn") - 1).select(
        "rn", F.col("y").alias("yc"), "yp"
    )
    pb = pairs.select(
        F.col("rn").alias("rnb"), F.col("yc").alias("ycb"), F.col("yp").alias("ypb")
    )
    joined = pairs.join(pb, F.col("rn") < F.col("rnb"))
    conc = (
        ((F.col("yc") < F.col("ycb")) & (F.col("yp") < F.col("ypb")))
        | ((F.col("yc") > F.col("ycb")) & (F.col("yp") > F.col("ypb")))
    )
    disc = (
        ((F.col("yc") < F.col("ycb")) & (F.col("yp") > F.col("ypb")))
        | ((F.col("yc") > F.col("ycb")) & (F.col("yp") < F.col("ypb")))
    )
    pp = joined.agg(
        F.sum(F.when(conc, 1).otherwise(0)).cast("bigint").alias("c"),
        F.sum(F.when(disc, 1).otherwise(0)).cast("bigint").alias("d"),
        F.sum(
            F.when(
                (F.col("yc") == F.col("ycb")) & (F.col("yp") != F.col("ypb")), 1
            ).otherwise(0)
        )
        .cast("bigint")
        .alias("tx"),
        F.sum(
            F.when(
                (F.col("yp") == F.col("ypb")) & (F.col("yc") != F.col("ycb")), 1
            ).otherwise(0)
        )
        .cast("bigint")
        .alias("ty"),
    )
    cd = (F.col("c") - F.col("d")).cast("double")
    return pp.select(
        F.col("c").alias("concordant"),
        F.col("d").alias("discordant"),
        F.col("tx").alias("ties_x_only"),
        F.col("ty").alias("ties_y_only"),
        F.round(cd / (F.col("c") + F.col("d")), 6).alias("gk_gamma"),
        F.round(cd / (F.col("c") + F.col("d") + F.col("ty")), 6).alias(
            "somers_d_yx"
        ),
        F.round(cd / (F.col("c") + F.col("d") + F.col("tx")), 6).alias(
            "somers_d_xy"
        ),
    )


# ---------------------------------------------------------------------------
# Shapiro-Francia QQ normality — the correlation between the ordered
# standardized series and theoretical normal quantiles. The probit is
# Acklam's public rational approximation: PURE rational arithmetic
# (one sqrt/log, no erf builtin needed), so per-row values are
# bit-identical doubles in both engines; W' = corr² over the 12-dp
# lattice sums. Blom plotting positions (i − 3/8)/(n + 1/4).
_ACKLAM_A = (
    -3.969683028665376e01, 2.209460984245205e02, -2.759285104469687e02,
    1.383577518672690e02, -3.066479806614716e01, 2.506628277459239e00,
)
_ACKLAM_B = (
    -5.447609879822406e01, 1.615858368580409e02, -1.556989798598866e02,
    6.680131188771972e01, -1.328068155288572e01,
)
_ACKLAM_C = (
    -7.784894002430293e-03, -3.223964580411365e-01, -2.400758277161838e00,
    -2.549732539343734e00, 4.374664141464968e00, 2.938163982698783e00,
)
_ACKLAM_D = (
    7.784695709041462e-03, 3.224671290700398e-01, 2.445134137142996e00,
    3.754408661907416e00,
)


def _sql_probit(p: str) -> str:
    """Acklam inverse-normal-CDF as a single SQL expression of p
    (valid for the central region and tails; identical structure to
    the Spark expression builder `_probit_col`)."""
    a, b, c, d = _ACKLAM_A, _ACKLAM_B, _ACKLAM_C, _ACKLAM_D
    ql = f"sqrt(-2.0 * ln({p}))"
    qu = f"sqrt(-2.0 * ln(1.0 - ({p})))"
    r = f"(({p}) - 0.5) * (({p}) - 0.5)"
    central_num = (
        f"((((({a[0]!r} * {r} + {a[1]!r}) * {r} + {a[2]!r}) * {r} + {a[3]!r})"
        f" * {r} + {a[4]!r}) * {r} + {a[5]!r}) * (({p}) - 0.5)"
    )
    central_den = (
        f"((((({b[0]!r} * {r} + {b[1]!r}) * {r} + {b[2]!r}) * {r} + {b[3]!r})"
        f" * {r} + {b[4]!r}) * {r} + 1.0)"
    )
    low_num = (
        f"(((({c[0]!r} * {ql} + {c[1]!r}) * {ql} + {c[2]!r}) * {ql} + {c[3]!r})"
        f" * {ql} + {c[4]!r}) * {ql} + {c[5]!r}"
    )
    low_den = (
        f"(((({d[0]!r} * {ql} + {d[1]!r}) * {ql} + {d[2]!r}) * {ql} + {d[3]!r})"
        f" * {ql} + 1.0)"
    )
    hi_num = (
        f"(((({c[0]!r} * {qu} + {c[1]!r}) * {qu} + {c[2]!r}) * {qu} + {c[3]!r})"
        f" * {qu} + {c[4]!r}) * {qu} + {c[5]!r}"
    )
    hi_den = (
        f"(((({d[0]!r} * {qu} + {d[1]!r}) * {qu} + {d[2]!r}) * {qu} + {d[3]!r})"
        f" * {qu} + 1.0)"
    )
    return f"""CASE
      WHEN ({p}) < 0.02425 THEN ({low_num}) / ({low_den})
      WHEN ({p}) > 0.97575 THEN -(({hi_num}) / ({hi_den}))
      ELSE ({central_num}) / ({central_den})
    END"""


def _probit_col(p):
    a, b, c, d = _ACKLAM_A, _ACKLAM_B, _ACKLAM_C, _ACKLAM_D
    ql = F.sqrt(-2.0 * F.log(p))
    qu = F.sqrt(-2.0 * F.log(1.0 - p))
    r = (p - 0.5) * (p - 0.5)

    def poly(cs, x, tail):
        e = F.lit(cs[0])
        for co in cs[1:]:
            e = e * x + F.lit(co)
        return e * x + F.lit(tail) if tail is not None else e

    central = (
        (((((F.lit(a[0]) * r + a[1]) * r + a[2]) * r + a[3]) * r + a[4]) * r + a[5])
        * (p - 0.5)
    ) / (((((F.lit(b[0]) * r + b[1]) * r + b[2]) * r + b[3]) * r + b[4]) * r + 1.0)
    low = (
        ((((F.lit(c[0]) * ql + c[1]) * ql + c[2]) * ql + c[3]) * ql + c[4]) * ql
        + c[5]
    ) / ((((F.lit(d[0]) * ql + d[1]) * ql + d[2]) * ql + d[3]) * ql + 1.0)
    hi = -(
        (
            ((((F.lit(c[0]) * qu + c[1]) * qu + c[2]) * qu + c[3]) * qu + c[4]) * qu
            + c[5]
        )
        / ((((F.lit(d[0]) * qu + d[1]) * qu + d[2]) * qu + d[3]) * qu + 1.0)
    )
    return (
        F.when(p < 0.02425, low).when(p > 0.97575, hi).otherwise(central)
    )


@_q(
    "shapiro_francia_qq",
    f"""
    WITH {_SQL_SPINE},
    ranked AS (
      SELECT y, row_number() OVER (ORDER BY y, rn) AS i,
             COUNT(*) OVER () AS n
      FROM spine
    ),
    qq AS (
      SELECT CAST(y AS DOUBLE) AS yv,
             {_sql_probit("(i - 0.375) / (n + 0.25)")} AS m
      FROM ranked
    ),
    sums AS (
      SELECT COUNT(*) AS n,
             CAST(SUM(CAST(round(yv, 6) AS DECIMAL(38,6))) AS DOUBLE) AS sy,
             CAST(SUM(CAST(round(yv * yv, 6) AS DECIMAL(38,6))) AS DOUBLE) AS syy,
             CAST(SUM(CAST(round(m, 12) AS DECIMAL(38,12))) AS DOUBLE) AS sm,
             CAST(SUM(CAST(round(m * m, 12) AS DECIMAL(38,12))) AS DOUBLE) AS smm,
             CAST(SUM(CAST(round(yv * m, 6) AS DECIMAL(38,6))) AS DOUBLE) AS sym
      FROM qq
    )
    SELECT CAST(n AS BIGINT) AS n_days,
           round(pow(n * sym - sy * sm, 2)
                 / ((n * syy - sy * sy) * (n * smm - sm * sm)), 6)
             AS w_prime
    FROM sums
    """,
)
def q_shapiro_francia_qq(spark: SparkSession, sf_dir: str) -> DataFrame:
    spine = _spine(spark, sf_dir)
    wall = Window.partitionBy()
    ranked = spine.select(
        "y",
        F.row_number().over(Window.orderBy("y", "rn")).alias("i"),
        F.count(F.lit(1)).over(wall).alias("n"),
    )
    p = (F.col("i") - 0.375) / (F.col("n") + 0.25)
    qq = ranked.select(
        F.col("y").cast("double").alias("yv"), _probit_col(p).alias("m")
    )
    sums = qq.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.round(F.col("yv"), 6).cast("decimal(38,6)")).cast("double").alias("sy"),
        F.sum(F.round(F.col("yv") * F.col("yv"), 6).cast("decimal(38,6)"))
        .cast("double")
        .alias("syy"),
        F.sum(F.round(F.col("m"), 12).cast("decimal(38,12)")).cast("double").alias("sm"),
        F.sum(F.round(F.col("m") * F.col("m"), 12).cast("decimal(38,12)"))
        .cast("double")
        .alias("smm"),
        F.sum(F.round(F.col("yv") * F.col("m"), 6).cast("decimal(38,6)"))
        .cast("double")
        .alias("sym"),
    )
    return sums.select(
        F.col("n").cast("bigint").alias("n_days"),
        F.round(
            F.pow(F.col("n") * F.col("sym") - F.col("sy") * F.col("sm"), 2)
            / (
                (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy"))
                * (F.col("n") * F.col("smm") - F.col("sm") * F.col("sm"))
            ),
            6,
        ).alias("w_prime"),
    )


# ---------------------------------------------------------------------------
# CRPS forecast evaluation — the continuous ranked probability score of
# an empirical ensemble forecast (the last 4 same-weekday daily
# revenues) against each realized day:
# CRPS = (1/m)Σ|x_i − y| − (1/(2m²))Σ_{ij}|x_i − x_j|. Both sums are
# exact integer cents over a bounded m = 4 ensemble; the report is the
# mean CRPS relative to the mean daily revenue (forecast-skill scale).
_CRPS_M = 4


@_q(
    "crps_forecast_eval",
    f"""
    WITH {_SQL_SPINE},
    members AS (
      -- ensemble member j in 1..4: the value 7j days back
      SELECT a.rn, a.y AS actual, j.j, b.y AS x
      FROM spine a
      CROSS JOIN (SELECT unnest([1, 2, 3, 4]) AS j) j
      JOIN spine b ON b.rn = a.rn - 7 * j.j
    ),
    full_days AS (
      SELECT rn FROM members GROUP BY rn HAVING COUNT(*) = {_CRPS_M}
    ),
    term1 AS (
      SELECT m.rn,
             CAST(SUM(CAST(abs(m.x - m.actual) AS DECIMAL(38,0)))
                  AS DECIMAL(38,0)) AS s1
      FROM members m JOIN full_days f ON f.rn = m.rn
      GROUP BY m.rn
    ),
    term2 AS (
      SELECT a.rn,
             CAST(SUM(CAST(abs(a.x - b.x) AS DECIMAL(38,0)))
                  AS DECIMAL(38,0)) AS s2
      FROM members a
      JOIN members b ON b.rn = a.rn
      JOIN full_days f ON f.rn = a.rn
      GROUP BY a.rn
    ),
    per_day AS (
      SELECT t1.rn,
             CAST(t1.s1 AS DOUBLE) / {_CRPS_M}
             - CAST(t2.s2 AS DOUBLE) / (2.0 * {_CRPS_M} * {_CRPS_M}) AS crps
      FROM term1 t1 JOIN term2 t2 ON t2.rn = t1.rn
    ),
    m AS (SELECT CAST(SUM(CAST(y AS DECIMAL(38,0))) AS DOUBLE) / COUNT(*)
            AS mean_y FROM spine)
    SELECT CAST(COUNT(*) AS BIGINT) AS n_days_scored,
           round(CAST(SUM(CAST(round(crps, 4) AS DECIMAL(38,4))) AS DOUBLE)
                 / COUNT(*) / (SELECT mean_y FROM m), 6) AS rel_mean_crps
    FROM per_day
    """,
)
def q_crps_forecast_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    spine = _spine(spark, sf_dir)
    js = spark.range(1, _CRPS_M + 1).select(F.col("id").cast("int").alias("j"))
    b = spine.select(F.col("rn").alias("rnb"), F.col("y").alias("x"))
    members = (
        spine.crossJoin(F.broadcast(js))
        .join(b, F.col("rnb") == F.col("rn") - 7 * F.col("j"))
        .select("rn", F.col("y").alias("actual"), "j", "x")
    )
    full_days = (
        members.groupBy("rn")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .where(F.col("cnt") == _CRPS_M)
        .select("rn")
    )
    mf = members.join(full_days, "rn")
    term1 = mf.groupBy("rn").agg(
        F.sum(F.abs(F.col("x") - F.col("actual")).cast("decimal(38,0)"))
        .cast("decimal(38,0)")
        .alias("s1")
    )
    mb = mf.select(F.col("rn").alias("rn2"), F.col("x").alias("xb"))
    term2 = (
        mf.join(mb, F.col("rn2") == F.col("rn"))
        .groupBy("rn")
        .agg(
            F.sum(F.abs(F.col("x") - F.col("xb")).cast("decimal(38,0)"))
            .cast("decimal(38,0)")
            .alias("s2")
        )
    )
    per_day = term1.join(term2, "rn").select(
        "rn",
        (
            F.col("s1").cast("double") / _CRPS_M
            - F.col("s2").cast("double") / (2.0 * _CRPS_M * _CRPS_M)
        ).alias("crps"),
    )
    m = spine.agg(
        (
            F.sum(F.col("y").cast("decimal(38,0)")).cast("double")
            / F.count(F.lit(1))
        ).alias("mean_y")
    )
    return per_day.crossJoin(F.broadcast(m)).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_days_scored"),
        F.round(
            F.sum(F.round(F.col("crps"), 4).cast("decimal(38,4)")).cast("double")
            / F.count(F.lit(1))
            / F.max("mean_y"),
            6,
        ).alias("rel_mean_crps"),
    )


# ---------------------------------------------------------------------------
# Brunner-Munzel test — the nonparametric Behrens-Fisher problem
# (stochastic superiority of weekend vs weekday daily revenue without
# equal-variance or shape assumptions). Midranks are exact
# half-integers (carried as 2x integers), placements reduce to exact
# integer algebra, and the Welch-type variance assembles from exact
# decimal moments in one fixed expression.
@_q(
    "brunner_munzel_test",
    f"""
    WITH {_SQL_SPINE},
    lab AS (
      SELECT rn, y,
             CASE WHEN rn % 7 IN (5, 6) THEN 1 ELSE 0 END AS grp
      FROM spine
    ),
    ranked AS MATERIALIZED (
      -- 2x midrank over the combined sample, and 2x midrank within
      -- the own group (exact integers)
      SELECT grp, y,
             CAST(2 * rank() OVER (ORDER BY y)
                  + COUNT(*) OVER (PARTITION BY y) - 2 + 1 AS BIGINT) AS r2,
             CAST(2 * rank() OVER (PARTITION BY grp ORDER BY y)
                  + COUNT(*) OVER (PARTITION BY grp, y) - 2 + 1 AS BIGINT)
               AS rw2
      FROM lab
    ),
    moms AS (
      SELECT grp, COUNT(*) AS n,
             CAST(SUM(CAST(r2 AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS s,
             CAST(SUM(CAST(r2 - rw2 AS DECIMAL(38,0))
                      * CAST(r2 - rw2 AS DECIMAL(38,0))) AS DECIMAL(38,0))
               AS sqq,
             CAST(SUM(CAST(r2 - rw2 AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS sq
      FROM ranked GROUP BY grp
    ),
    wide AS (
      SELECT MAX(CASE WHEN grp = 0 THEN n END) AS n0,
             MAX(CASE WHEN grp = 1 THEN n END) AS n1,
             MAX(CASE WHEN grp = 0 THEN CAST(s AS DOUBLE) END) AS s0,
             MAX(CASE WHEN grp = 1 THEN CAST(s AS DOUBLE) END) AS s1,
             MAX(CASE WHEN grp = 0 THEN CAST(sqq AS DOUBLE) END) AS sqq0,
             MAX(CASE WHEN grp = 1 THEN CAST(sqq AS DOUBLE) END) AS sqq1,
             MAX(CASE WHEN grp = 0 THEN CAST(sq AS DOUBLE) END) AS q0,
             MAX(CASE WHEN grp = 1 THEN CAST(sq AS DOUBLE) END) AS q1
      FROM moms
    )
    SELECT CAST(n0 AS BIGINT) AS n_weekday, CAST(n1 AS BIGINT) AS n_weekend,
           round((s1 / (2.0 * n1) - s0 / (2.0 * n0))
                 / (n0 + n1) + 0.5, 6) AS p_hat,
           round(((s1 / (2.0 * n1) - s0 / (2.0 * n0)) / (n0 + n1))
                 / sqrt(((sqq0 / 4.0 - q0 * q0 / (4.0 * n0)) / (n0 - 1.0))
                          / (CAST(n0 AS DOUBLE) * n1 * n1)
                        + ((sqq1 / 4.0 - q1 * q1 / (4.0 * n1)) / (n1 - 1.0))
                          / (CAST(n1 AS DOUBLE) * n0 * n0)), 6)
             AS bm_statistic
    FROM wide
    """,
)
def q_brunner_munzel_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    spine = _spine(spark, sf_dir)
    lab = spine.select(
        "rn",
        "y",
        F.when(F.col("rn") % 7 == 5, 1)
        .when(F.col("rn") % 7 == 6, 1)
        .otherwise(0)
        .alias("grp"),
    )
    r2 = (
        2 * F.rank().over(Window.orderBy("y"))
        + F.count(F.lit(1)).over(Window.partitionBy("y"))
        - 2
        + 1
    ).cast("bigint")
    rw2 = (
        2 * F.rank().over(Window.partitionBy("grp").orderBy("y"))
        + F.count(F.lit(1)).over(Window.partitionBy("grp", "y"))
        - 2
        + 1
    ).cast("bigint")
    ranked = lab.select(
        "grp", "y", r2.alias("r2"), rw2.alias("rw2")
    ).localCheckpoint(eager=True)
    q = (F.col("r2") - F.col("rw2")).cast("decimal(38,0)")
    moms = ranked.groupBy("grp").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("r2").cast("decimal(38,0)")).cast("decimal(38,0)").alias("s"),
        F.sum(q * q).cast("decimal(38,0)").alias("sqq"),
        F.sum(q).cast("decimal(38,0)").alias("sq"),
    )
    wide = moms.agg(
        F.max(F.when(F.col("grp") == 0, F.col("n"))).alias("n0"),
        F.max(F.when(F.col("grp") == 1, F.col("n"))).alias("n1"),
        F.max(F.when(F.col("grp") == 0, F.col("s").cast("double"))).alias("s0"),
        F.max(F.when(F.col("grp") == 1, F.col("s").cast("double"))).alias("s1"),
        F.max(F.when(F.col("grp") == 0, F.col("sqq").cast("double"))).alias("sqq0"),
        F.max(F.when(F.col("grp") == 1, F.col("sqq").cast("double"))).alias("sqq1"),
        F.max(F.when(F.col("grp") == 0, F.col("sq").cast("double"))).alias("q0"),
        F.max(F.when(F.col("grp") == 1, F.col("sq").cast("double"))).alias("q1"),
    )
    n0d, n1d = F.col("n0").cast("double"), F.col("n1").cast("double")
    diff = (
        F.col("s1") / (2.0 * F.col("n1")) - F.col("s0") / (2.0 * F.col("n0"))
    ) / (F.col("n0") + F.col("n1"))
    v0 = (
        (F.col("sqq0") / 4.0 - F.col("q0") * F.col("q0") / (4.0 * F.col("n0")))
        / (F.col("n0") - 1.0)
    ) / (n0d * F.col("n1") * F.col("n1"))
    v1 = (
        (F.col("sqq1") / 4.0 - F.col("q1") * F.col("q1") / (4.0 * F.col("n1")))
        / (F.col("n1") - 1.0)
    ) / (n1d * F.col("n0") * F.col("n0"))
    return wide.select(
        F.col("n0").cast("bigint").alias("n_weekday"),
        F.col("n1").cast("bigint").alias("n_weekend"),
        F.round(diff + 0.5, 6).alias("p_hat"),
        F.round(diff / F.sqrt(v0 + v1), 6).alias("bm_statistic"),
    )


# ---------------------------------------------------------------------------
# Fligner-Killeen scale test — rank-based homogeneity of variance
# across the 7 weekday groups of daily revenue, using normal scores of
# the |x − group-median| ranks (the robust member of the
# variance-test family beside the registry's Bartlett/Levene/
# Brown-Forsythe). Group medians are exact order statistics; the
# normal scores reuse the Acklam probit (bit-identical arithmetic).
@_q(
    "fligner_killeen_scale",
    f"""
    WITH {_SQL_SPINE},
    lab AS (SELECT rn, y, rn % 7 AS wd FROM spine),
    med AS (
      -- exact lower-median per weekday group: order statistic at
      -- ceil(n/2) under (y, rn) order
      SELECT wd, y AS med FROM (
        SELECT wd, y, row_number() OVER (PARTITION BY wd ORDER BY y, rn) AS i,
               COUNT(*) OVER (PARTITION BY wd) AS n
        FROM lab
      ) WHERE i = CAST(ceil(n / 2.0) AS BIGINT)
    ),
    dev AS (
      SELECT l.wd, abs(l.y - m.med) AS a, l.rn
      FROM lab l JOIN med m ON m.wd = l.wd
    ),
    ranked AS MATERIALIZED (
      SELECT wd,
             CAST(row_number() OVER (ORDER BY a, rn) AS DOUBLE) AS r,
             COUNT(*) OVER () AS n
      FROM dev
    ),
    scored AS MATERIALIZED (
      SELECT wd, n,
             {_sql_probit("0.5 + r / (2.0 * (n + 1))")} AS a
      FROM ranked
    ),
    pergrp AS (
      SELECT wd, COUNT(*) AS ng,
             CAST(SUM(CAST(round(a, 12) AS DECIMAL(38,12))) AS DOUBLE) AS sa
      FROM scored GROUP BY wd
    ),
    overall AS (
      SELECT CAST(SUM(CAST(round(a, 12) AS DECIMAL(38,12))) AS DOUBLE)
               / COUNT(*) AS abar,
             CAST(SUM(CAST(round((a - (SELECT CAST(SUM(CAST(round(a, 12)
                  AS DECIMAL(38,12))) AS DOUBLE) / COUNT(*) FROM scored))
                  * (a - (SELECT CAST(SUM(CAST(round(a, 12)
                  AS DECIMAL(38,12))) AS DOUBLE) / COUNT(*) FROM scored)), 12)
                  AS DECIMAL(38,12))) AS DOUBLE) / (COUNT(*) - 1) AS v
      FROM scored
    )
    SELECT CAST(7 AS INT) AS n_groups,
           round(CAST(SUM(CAST(round(
             ng * (sa / ng - (SELECT abar FROM overall))
                * (sa / ng - (SELECT abar FROM overall)), 12)
             AS DECIMAL(38,12))) AS DOUBLE)
             / (SELECT v FROM overall), 6) AS fk_statistic
    FROM pergrp
    """,
)
def q_fligner_killeen_scale(spark: SparkSession, sf_dir: str) -> DataFrame:
    spine = _spine(spark, sf_dir)
    lab = spine.select("rn", "y", (F.col("rn") % 7).alias("wd"))
    wg = Window.partitionBy("wd")
    ranked_med = lab.select(
        "wd",
        "y",
        F.row_number().over(wg.orderBy("y", "rn")).alias("i"),
        F.count(F.lit(1)).over(wg).alias("ng_"),
    )
    med = ranked_med.where(
        F.col("i") == F.ceil(F.col("ng_") / 2.0).cast("bigint")
    ).select("wd", F.col("y").alias("med"))
    dev = lab.join(F.broadcast(med), "wd").select(
        "wd", F.abs(F.col("y") - F.col("med")).alias("a"), "rn"
    )
    wall = Window.partitionBy()
    ranked = dev.select(
        "wd",
        F.row_number().over(Window.orderBy("a", "rn")).cast("double").alias("r"),
        F.count(F.lit(1)).over(wall).alias("n"),
    )
    p = 0.5 + F.col("r") / (2.0 * (F.col("n") + 1))
    scored = ranked.select(
        "wd", "n", _probit_col(p).alias("a")
    ).localCheckpoint(eager=True)

    def _d12(col):
        return F.sum(F.round(col, 12).cast("decimal(38,12)")).cast("double")

    pergrp = scored.groupBy("wd").agg(
        F.count(F.lit(1)).alias("ng"), _d12(F.col("a")).alias("sa")
    )
    abar_df = scored.agg(
        (_d12(F.col("a")) / F.count(F.lit(1))).alias("abar")
    )
    vdf = (
        scored.crossJoin(F.broadcast(abar_df))
        .agg(
            (
                _d12(
                    (F.col("a") - F.col("abar")) * (F.col("a") - F.col("abar"))
                )
                / (F.count(F.lit(1)) - 1)
            ).alias("v"),
            F.max("abar").alias("abar"),
        )
    )
    return (
        pergrp.crossJoin(F.broadcast(vdf))
        .select(
            F.round(
                (
                    F.col("ng")
                    * (F.col("sa") / F.col("ng") - F.col("abar"))
                    * (F.col("sa") / F.col("ng") - F.col("abar"))
                ),
                12,
            )
            .cast("decimal(38,12)")
            .alias("term"),
            "v",
        )
        .groupBy("v")
        .agg(F.sum("term").cast("double").alias("num"))
        .select(
            F.lit(7).cast("int").alias("n_groups"),
            F.round(F.col("num") / F.col("v"), 6).alias("fk_statistic"),
        )
    )


# ---------------------------------------------------------------------------
# Quade test — weighted within-block rank ANOVA (blocks = calendar
# weeks, treatments = weekdays), the small-k-sensitive alternative to
# Friedman: block weights are the ranks of within-block RANGES, so
# high-variation weeks count more. Midranks carried as 2x integers;
# everything reduces to exact integer/decimal sums and one F-ratio.
@_q(
    "quade_test",
    f"""
    WITH {_SQL_SPINE},
    cells AS (
      SELECT (rn - 1) // 7 AS wk, ((rn - 1) % 7) + 1 AS wd, y
      FROM spine
    ),
    fullwk AS (
      SELECT wk FROM cells GROUP BY wk HAVING COUNT(*) = 7
    ),
    c2 AS MATERIALIZED (
      SELECT c.wk, c.wd, c.y,
             CAST(2 * rank() OVER (PARTITION BY c.wk ORDER BY c.y)
                  + COUNT(*) OVER (PARTITION BY c.wk, c.y) - 2 + 1 AS BIGINT)
               AS r2
      FROM cells c JOIN fullwk f ON f.wk = c.wk
    ),
    rng AS (
      SELECT wk, MAX(y) - MIN(y) AS range_ FROM c2 GROUP BY wk
    ),
    wts AS MATERIALIZED (
      SELECT wk,
             CAST(2 * rank() OVER (ORDER BY range_, wk)
                  + COUNT(*) OVER (PARTITION BY range_) - 2 + 1 AS BIGINT)
               AS q2
      FROM rng
    ),
    sc AS (
      -- S_ij = Q_i * (R_ij - 4): 2x-weight times 2x-centered-rank
      -- (centered midrank x2 = r2 - (7+1)); exact quarter-integers x4
      SELECT c.wd,
             CAST(SUM(CAST(w.q2 AS DECIMAL(19,0))
                      * CAST(c.r2 - 8 AS DECIMAL(19,0)))
                  AS DECIMAL(38,0)) AS s4,
             (SELECT COUNT(*) FROM fullwk) AS b
      FROM c2 c JOIN wts w ON w.wk = c.wk
      GROUP BY c.wd
    ),
    tots AS (
      SELECT MAX(b) AS b,
             CAST(SUM(CAST(s4 AS DOUBLE) * CAST(s4 AS DOUBLE)) AS DOUBLE)
               AS ssj
      FROM sc
    ),
    atot AS (
      SELECT CAST(SUM(CAST(w.q2 AS DECIMAL(19,0)) * CAST(w.q2 AS DECIMAL(19,0))
                      * CAST(c.r2 - 8 AS DECIMAL(19,0))
                      * CAST(c.r2 - 8 AS DECIMAL(19,0))) AS DOUBLE) AS a2
      FROM c2 c JOIN wts w ON w.wk = c.wk
    )
    SELECT CAST((SELECT b FROM tots) AS BIGINT) AS n_weeks,
           round(((SELECT b FROM tots) - 1.0)
                 * ((SELECT ssj FROM tots) / (SELECT b FROM tots))
                 / ((SELECT a2 FROM atot)
                    - (SELECT ssj FROM tots) / (SELECT b FROM tots)), 6)
             AS quade_f
    """,
)
def q_quade_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    spine = _spine(spark, sf_dir)
    cells = spine.select(
        ((F.col("rn") - 1) / 7).cast("bigint").alias("wk"),
        (((F.col("rn") - 1) % 7) + 1).alias("wd"),
        "y",
    )
    fullwk = (
        cells.groupBy("wk")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .where(F.col("cnt") == 7)
        .select("wk")
    )
    cj = cells.join(fullwk, "wk")
    r2 = (
        2 * F.rank().over(Window.partitionBy("wk").orderBy("y"))
        + F.count(F.lit(1)).over(Window.partitionBy("wk", "y"))
        - 2
        + 1
    ).cast("bigint")
    c2 = cj.select("wk", "wd", "y", r2.alias("r2")).localCheckpoint(eager=True)
    rng = c2.groupBy("wk").agg((F.max("y") - F.min("y")).alias("range_"))
    q2 = (
        2 * F.rank().over(Window.orderBy("range_", "wk"))
        + F.count(F.lit(1)).over(Window.partitionBy("range_"))
        - 2
        + 1
    ).cast("bigint")
    wts = rng.select("wk", q2.alias("q2"))
    joined = c2.join(F.broadcast(wts), "wk")
    nb = fullwk.count()  # bounded: calendar weeks
    sc = joined.groupBy("wd").agg(
        F.sum(
            F.col("q2").cast("decimal(19,0)")
            * (F.col("r2") - 8).cast("decimal(19,0)")
        )
        .cast("decimal(38,0)")
        .alias("s4")
    )
    tots = sc.agg(
        F.sum(F.col("s4").cast("double") * F.col("s4").cast("double")).alias(
            "ssj"
        )
    )
    atot = joined.agg(
        F.sum(
            F.col("q2").cast("decimal(19,0)")
            * F.col("q2").cast("decimal(19,0)")
            * (F.col("r2") - 8).cast("decimal(19,0)")
            * (F.col("r2") - 8).cast("decimal(19,0)")
        )
        .cast("double")
        .alias("a2")
    )
    return tots.crossJoin(atot).select(
        F.lit(nb).cast("bigint").alias("n_weeks"),
        F.round(
            (nb - 1.0)
            * (F.col("ssj") / nb)
            / (F.col("a2") - F.col("ssj") / nb),
            6,
        ).alias("quade_f"),
    )


# ---------------------------------------------------------------------------
# D'Agostino K² omnibus normality — the skewness Z (D'Agostino 1970)
# and kurtosis Z (Anscombe-Glynn 1983) transforms combined. Both are
# scalar closed forms over EXACT integer central moments of the day
# spine (mean cleared by the n·y − S trick), so the whole statistic is
# one fixed expression of four exact decimals.
@_q(
    "dagostino_k2_normality",
    f"""
    WITH {_SQL_SPINE},
    n_ AS (SELECT COUNT(*) AS n, CAST(SUM(CAST(y AS DECIMAL(38,0)))
             AS DECIMAL(38,0)) AS s FROM spine),
    cm AS (
      -- central moments via u = n*y - S (integer): m_k = sum u^k / n^k
      SELECT (SELECT n FROM n_) AS n,
             CAST(SUM(CAST(u AS DECIMAL(38,0)) * CAST(u AS DECIMAL(38,0)))
                  AS DOUBLE) AS u2,
             CAST(SUM(CAST(round(CAST(u AS DOUBLE) / 1e10
                  * (CAST(u AS DOUBLE) / 1e10)
                  * (CAST(u AS DOUBLE) / 1e10), 6) AS DECIMAL(38,6)))
                  AS DOUBLE) AS u3s,
             CAST(SUM(CAST(round(CAST(u AS DOUBLE) / 1e10
                  * (CAST(u AS DOUBLE) / 1e10)
                  * (CAST(u AS DOUBLE) / 1e10)
                  * (CAST(u AS DOUBLE) / 1e10), 6) AS DECIMAL(38,6)))
                  AS DOUBLE) AS u4s
      FROM (SELECT (SELECT n FROM n_) * y - (SELECT s FROM n_) AS u FROM spine)
    ),
    gs AS (
      SELECT n,
             (u3s * 1e30 / n) / pow(u2 / n, 1.5) AS g1,
             (u4s * 1e40 / n) / pow(u2 / n, 2.0) - 3.0 AS g2
      FROM cm
    ),
    z1 AS (
      SELECT n, g1, g2,
             g1 * sqrt((n + 1.0) * (n + 3.0) / (6.0 * (n - 2.0))) AS yy,
             3.0 * (n * n + 27.0 * n - 70.0) * (n + 1.0) * (n + 3.0)
               / ((n - 2.0) * (n + 5.0) * (n + 7.0) * (n + 9.0)) AS beta2
      FROM gs
    ),
    z1b AS (
      SELECT n, g1, g2, yy,
             sqrt(2.0 * (beta2 - 1.0)) - 1.0 AS w2
      FROM z1
    ),
    z1c AS (
      SELECT n, g1, g2, yy, w2,
             1.0 / sqrt(ln(sqrt(w2))) AS d,
             sqrt(2.0 / (w2 - 1.0)) AS alpha
      FROM z1b
    ),
    zs AS (
      SELECT n, g2,
             d * ln(yy / alpha + sqrt(yy * yy / (alpha * alpha) + 1.0)) AS zg1
      FROM z1c
    ),
    k AS (
      SELECT n, zg1,
             24.0 * n * (n - 2.0) * (n - 3.0)
               / ((n + 1.0) * (n + 1.0) * (n + 3.0) * (n + 5.0)) AS varg2,
             -6.0 / (n + 1.0) AS eg2
      FROM zs
    ),
    k2 AS (
      SELECT n, zg1, (g2 - eg2) / sqrt(varg2) AS xg2,
             6.0 * (n * n - 5.0 * n + 2.0) / ((n + 7.0) * (n + 9.0))
               * sqrt(6.0 * (n + 3.0) * (n + 5.0)
                      / (n * (n - 2.0) * (n - 3.0))) AS sb
      FROM k CROSS JOIN (SELECT g2 FROM gs) g
    ),
    k3 AS (
      SELECT n, zg1, xg2, 6.0 + 8.0 / sb * (2.0 / sb
               + sqrt(1.0 + 4.0 / (sb * sb))) AS aa
      FROM k2
    )
    SELECT CAST(n AS BIGINT) AS n_days,
           round(zg1, 6) AS z_skew,
           round((1.0 - 2.0 / (9.0 * aa)
                  - pow((1.0 - 2.0 / aa)
                        / (1.0 + xg2 * sqrt(2.0 / (aa - 4.0))), 1.0 / 3.0))
                 / sqrt(2.0 / (9.0 * aa)), 6) AS z_kurt,
           round(zg1 * zg1
                 + pow((1.0 - 2.0 / (9.0 * aa)
                        - pow((1.0 - 2.0 / aa)
                              / (1.0 + xg2 * sqrt(2.0 / (aa - 4.0))),
                              1.0 / 3.0))
                       / sqrt(2.0 / (9.0 * aa)), 2), 6) AS k2_statistic
    FROM k3
    """,
)
def q_dagostino_k2_normality(spark: SparkSession, sf_dir: str) -> DataFrame:
    spine = _spine(spark, sf_dir)
    n_s = spine.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("y").cast("decimal(38,0)")).cast("decimal(38,0)").alias("s"),
    )
    u = (F.col("n") * F.col("y") - F.col("s")).alias("u")
    base = spine.crossJoin(F.broadcast(n_s)).select("n", u)
    us = F.col("u").cast("double") / 1e10
    cm = base.groupBy("n").agg(
        F.sum(F.col("u").cast("decimal(38,0)") * F.col("u").cast("decimal(38,0)"))
        .cast("double")
        .alias("u2"),
        F.sum(F.round(us * us * us, 6).cast("decimal(38,6)"))
        .cast("double")
        .alias("u3s"),
        F.sum(F.round(us * us * us * us, 6).cast("decimal(38,6)"))
        .cast("double")
        .alias("u4s"),
    )
    nd = F.col("n").cast("double")
    g1 = (F.col("u3s") * 1e30 / nd) / F.pow(F.col("u2") / nd, 1.5)
    g2 = (F.col("u4s") * 1e40 / nd) / F.pow(F.col("u2") / nd, 2.0) - 3.0
    gs = cm.select("n", g1.alias("g1"), g2.alias("g2"))
    yy = F.col("g1") * F.sqrt((nd + 1.0) * (nd + 3.0) / (6.0 * (nd - 2.0)))
    beta2 = (
        3.0
        * (nd * nd + 27.0 * nd - 70.0)
        * (nd + 1.0)
        * (nd + 3.0)
        / ((nd - 2.0) * (nd + 5.0) * (nd + 7.0) * (nd + 9.0))
    )
    w2 = F.sqrt(2.0 * (beta2 - 1.0)) - 1.0
    d = 1.0 / F.sqrt(F.log(F.sqrt(w2)))
    alpha = F.sqrt(2.0 / (w2 - 1.0))
    zg1 = d * F.log(yy / alpha + F.sqrt(yy * yy / (alpha * alpha) + 1.0))
    eg2 = -6.0 / (nd + 1.0)
    varg2 = (
        24.0
        * nd
        * (nd - 2.0)
        * (nd - 3.0)
        / ((nd + 1.0) * (nd + 1.0) * (nd + 3.0) * (nd + 5.0))
    )
    xg2 = (F.col("g2") - eg2) / F.sqrt(varg2)
    sb = (
        6.0
        * (nd * nd - 5.0 * nd + 2.0)
        / ((nd + 7.0) * (nd + 9.0))
        * F.sqrt(6.0 * (nd + 3.0) * (nd + 5.0) / (nd * (nd - 2.0) * (nd - 3.0)))
    )
    aa = 6.0 + 8.0 / sb * (2.0 / sb + F.sqrt(1.0 + 4.0 / (sb * sb)))
    zg2 = (
        1.0
        - 2.0 / (9.0 * aa)
        - F.pow(
            (1.0 - 2.0 / aa) / (1.0 + xg2 * F.sqrt(2.0 / (aa - 4.0))),
            1.0 / 3.0,
        )
    ) / F.sqrt(2.0 / (9.0 * aa))
    return gs.select(
        F.col("n").cast("bigint").alias("n_days"),
        F.round(zg1, 6).alias("z_skew"),
        F.round(zg2, 6).alias("z_kurt"),
        F.round(zg1 * zg1 + F.pow(zg2, 2), 6).alias("k2_statistic"),
    )


# ---------------------------------------------------------------------------
# Bivariate Mahalanobis outlier days — distance of each (revenue,
# order-count) day vector from the sample centroid under the inverse
# 2x2 covariance, all in EXACT integer algebra (u = n·x − S clears
# both means; the closed-form 2x2 inverse avoids any matrix routine).
# Reports the top-10 most anomalous days deterministically.
@_q(
    "mahalanobis_outlier_days",
    """
    WITH dailyc AS (
      SELECT o_orderdate AS d,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT) AS y,
             CAST(COUNT(*) AS BIGINT) AS c
      FROM orders GROUP BY 1
    ),
    spine AS (SELECT row_number() OVER (ORDER BY d) AS rn, d, y, c FROM dailyc),
    n_ AS (
      SELECT COUNT(*) AS n,
             CAST(SUM(CAST(y AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS sy,
             CAST(SUM(CAST(c AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS sc
      FROM spine
    ),
    u AS (
      SELECT rn, d,
             CAST((SELECT n FROM n_) AS DECIMAL(38,0)) * y
               - (SELECT sy FROM n_) AS uy,
             CAST((SELECT n FROM n_) AS DECIMAL(38,0)) * c
               - (SELECT sc FROM n_) AS uc
      FROM spine
    ),
    cov AS (
      SELECT CAST(SUM(uy * uy) AS DOUBLE) AS syy,
             CAST(SUM(uc * uc) AS DOUBLE) AS scc,
             CAST(SUM(uy * uc) AS DOUBLE) AS syc
      FROM u
    ),
    dist AS (
      SELECT rn, d,
             ((SELECT n FROM n_) - 1.0)
             * (CAST(uy AS DOUBLE) * uy * (SELECT scc FROM cov)
                - 2.0 * CAST(uy AS DOUBLE) * uc * (SELECT syc FROM cov)
                + CAST(uc AS DOUBLE) * uc * (SELECT syy FROM cov))
             / ((SELECT syy FROM cov) * (SELECT scc FROM cov)
                - (SELECT syc FROM cov) * (SELECT syc FROM cov)) AS d2
      FROM u
    )
    SELECT d AS day, round(d2, 6) AS mahalanobis_sq
    FROM dist ORDER BY d2 DESC, rn LIMIT 10
    """,
)
def q_mahalanobis_outlier_days(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = t(spark, sf_dir, "orders")
    dailyc = orders.groupBy(F.col("o_orderdate").alias("d")).agg(
        (F.sum(F.col("o_totalprice").cast("decimal(18,2)")) * 100)
        .cast("bigint")
        .alias("y"),
        F.count(F.lit(1)).cast("bigint").alias("c"),
    )
    spine = dailyc.select(
        F.row_number().over(Window.orderBy("d")).alias("rn"), "d", "y", "c"
    )
    n_ = spine.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("y").cast("decimal(38,0)")).cast("decimal(38,0)").alias("sy"),
        F.sum(F.col("c").cast("decimal(38,0)")).cast("decimal(38,0)").alias("sc"),
    )
    u = spine.crossJoin(F.broadcast(n_)).select(
        "rn",
        "d",
        "n",
        (F.col("n").cast("decimal(38,0)") * F.col("y") - F.col("sy")).alias("uy"),
        (F.col("n").cast("decimal(38,0)") * F.col("c") - F.col("sc")).alias("uc"),
    )
    cov = u.agg(
        F.sum(F.col("uy") * F.col("uy")).cast("double").alias("syy"),
        F.sum(F.col("uc") * F.col("uc")).cast("double").alias("scc"),
        F.sum(F.col("uy") * F.col("uc")).cast("double").alias("syc"),
    )
    dist = u.crossJoin(F.broadcast(cov)).select(
        "rn",
        "d",
        (
            (F.col("n") - 1.0)
            * (
                F.col("uy").cast("double") * F.col("uy") * F.col("scc")
                - 2.0 * F.col("uy").cast("double") * F.col("uc") * F.col("syc")
                + F.col("uc").cast("double") * F.col("uc") * F.col("syy")
            )
            / (
                F.col("syy") * F.col("scc")
                - F.col("syc") * F.col("syc")
            )
        ).alias("d2"),
    )
    return (
        dist.orderBy(F.desc("d2"), F.asc("rn"))
        .limit(10)
        .select(F.col("d").alias("day"), F.round("d2", 6).alias("mahalanobis_sq"))
    )


# ---------------------------------------------------------------------------
# Two-break segmentation (Bai-Perron shape) — globally optimal pair of
# breakpoints minimizing the 3-segment SSR, solved EXACTLY by a
# prefix-sum grid over all (a, b) candidates (bounded spine² — the
# dynamic program every changepoint library approximates is a closed
# form over six prefix lookups here). Minimum segment length 30.
_TB_MIN = 30


@_q(
    "two_break_segmentation",
    f"""
    WITH {_SQL_SPINE},
    pre AS MATERIALIZED (
      SELECT rn,
             CAST(SUM(CAST(y AS DECIMAL(38,0))) OVER (ORDER BY rn)
                  AS DECIMAL(38,0)) AS p1,
             CAST(SUM(CAST(y AS DECIMAL(38,0)) * CAST(y AS DECIMAL(38,0)))
                  OVER (ORDER BY rn) AS DECIMAL(38,0)) AS p2
      FROM spine
    ),
    n_ AS (SELECT COUNT(*) AS n, MAX(p1) AS t1, MAX(p2) AS t2 FROM pre),
    cand AS (
      SELECT a.rn AS a, b.rn AS b,
             a.p1 AS a1, a.p2 AS a2, b.p1 AS b1, b.p2 AS b2
      FROM pre a JOIN pre b
        ON b.rn >= a.rn + {_TB_MIN}
       AND a.rn >= {_TB_MIN}
       AND b.rn <= (SELECT n FROM n_) - {_TB_MIN}
    ),
    ssr AS (
      SELECT a, b,
             (CAST(a2 AS DOUBLE) - CAST(a1 AS DOUBLE) * a1 / a)
             + (CAST(b2 - a2 AS DOUBLE)
                - CAST(b1 - a1 AS DOUBLE) * CAST(b1 - a1 AS DOUBLE) / (b - a))
             + (CAST((SELECT t2 FROM n_) - b2 AS DOUBLE)
                - CAST((SELECT t1 FROM n_) - b1 AS DOUBLE)
                  * CAST((SELECT t1 FROM n_) - b1 AS DOUBLE)
                  / ((SELECT n FROM n_) - b)) AS v
      FROM cand
    ),
    best AS (SELECT a, b, v FROM ssr ORDER BY v, a, b LIMIT 1),
    tot AS (
      SELECT CAST((SELECT t2 FROM n_) AS DOUBLE)
             - CAST((SELECT t1 FROM n_) AS DOUBLE) * (SELECT t1 FROM n_)
               / (SELECT n FROM n_) AS sst
    )
    SELECT CAST(a AS BIGINT) AS break_1, CAST(b AS BIGINT) AS break_2,
           round(1.0 - v / (SELECT sst FROM tot), 6) AS ssr_reduction
    FROM best
    """,
)
def q_two_break_segmentation(spark: SparkSession, sf_dir: str) -> DataFrame:
    spine = _spine(spark, sf_dir)
    wo = Window.orderBy("rn")
    pre = spine.select(
        "rn",
        F.sum(F.col("y").cast("decimal(38,0)")).over(wo).cast("decimal(38,0)").alias("p1"),
        F.sum(F.col("y").cast("decimal(38,0)") * F.col("y").cast("decimal(38,0)"))
        .over(wo)
        .cast("decimal(38,0)")
        .alias("p2"),
    ).localCheckpoint(eager=True)
    n_ = pre.agg(
        F.count(F.lit(1)).alias("n"),
        F.max("p1").alias("t1"),
        F.max("p2").alias("t2"),
    )
    b = pre.select(
        F.col("rn").alias("b"), F.col("p1").alias("b1"), F.col("p2").alias("b2")
    )
    cand = (
        pre.select(
            F.col("rn").alias("a"), F.col("p1").alias("a1"), F.col("p2").alias("a2")
        )
        .where(F.col("a") >= _TB_MIN)
        .crossJoin(F.broadcast(n_))
        .join(
            b,
            (F.col("b") >= F.col("a") + _TB_MIN)
            & (F.col("b") <= F.col("n") - _TB_MIN),
        )
    )
    seg1 = F.col("a2").cast("double") - F.col("a1").cast("double") * F.col("a1") / F.col("a")
    seg2 = (F.col("b2") - F.col("a2")).cast("double") - (
        F.col("b1") - F.col("a1")
    ).cast("double") * (F.col("b1") - F.col("a1")).cast("double") / (
        F.col("b") - F.col("a")
    )
    seg3 = (F.col("t2") - F.col("b2")).cast("double") - (
        F.col("t1") - F.col("b1")
    ).cast("double") * (F.col("t1") - F.col("b1")).cast("double") / (
        F.col("n") - F.col("b")
    )
    ssr = cand.select(
        "a", "b", "n", "t1", "t2", (seg1 + seg2 + seg3).alias("v")
    )
    best = ssr.orderBy("v", "a", "b").limit(1)
    sst = F.col("t2").cast("double") - F.col("t1").cast("double") * F.col(
        "t1"
    ) / F.col("n")
    return best.select(
        F.col("a").cast("bigint").alias("break_1"),
        F.col("b").cast("bigint").alias("break_2"),
        F.round(1.0 - F.col("v") / sst, 6).alias("ssr_reduction"),
    )


# ---------------------------------------------------------------------------
# MOSUM change scan — moving-sum changepoint statistic: the maximum
# standardized difference between adjacent G-day window sums. Window
# sums are exact integers; sigma comes from exact global moments; the
# argmax is tie-broken by day index. Complements the registry's
# CUSUM/Pettitt/Chow/binary-segmentation family with the
# bandwidth-local scan shape.
_MOSUM_G = 60


@_q(
    "mosum_change_scan",
    f"""
    WITH {_SQL_SPINE},
    n_ AS (
      SELECT COUNT(*) AS n,
             CAST(SUM(CAST(y AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS s,
             CAST(SUM(CAST(y AS DECIMAL(38,0)) * CAST(y AS DECIMAL(38,0)))
                  AS DECIMAL(38,0)) AS ss
      FROM spine
    ),
    wins AS (
      SELECT rn,
             CAST(SUM(y) OVER (ORDER BY rn ROWS BETWEEN {_MOSUM_G - 1}
                               PRECEDING AND CURRENT ROW) AS BIGINT) AS wsum,
             COUNT(*) OVER (ORDER BY rn ROWS BETWEEN {_MOSUM_G - 1}
                            PRECEDING AND CURRENT ROW) AS wcnt
      FROM spine
    ),
    mosum AS (
      SELECT l.rn AS t,
             abs(r.wsum - l.wsum) AS m
      FROM wins l JOIN wins r ON r.rn = l.rn + {_MOSUM_G}
      WHERE l.wcnt = {_MOSUM_G} AND r.wcnt = {_MOSUM_G}
    ),
    sig AS (
      SELECT sqrt((CAST((SELECT n FROM n_) AS DOUBLE) * (SELECT ss FROM n_)
                   - CAST((SELECT s FROM n_) AS DOUBLE) * (SELECT s FROM n_))
                  / (CAST((SELECT n FROM n_) AS DOUBLE)
                     * ((SELECT n FROM n_) - 1))) AS sigma
    )
    SELECT CAST(t AS BIGINT) AS change_day_index,
           round(CAST(m AS DOUBLE)
                 / ((SELECT sigma FROM sig) * sqrt(2.0 * {_MOSUM_G})), 6)
             AS mosum_statistic
    FROM mosum ORDER BY m DESC, t LIMIT 1
    """,
)
def q_mosum_change_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    spine = _spine(spark, sf_dir)
    n_ = spine.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("y").cast("decimal(38,0)")).cast("decimal(38,0)").alias("s"),
        F.sum(F.col("y").cast("decimal(38,0)") * F.col("y").cast("decimal(38,0)"))
        .cast("decimal(38,0)")
        .alias("ss"),
    )
    ww = Window.orderBy("rn").rowsBetween(-(_MOSUM_G - 1), 0)
    wins = spine.select(
        "rn",
        F.sum("y").over(ww).cast("bigint").alias("wsum"),
        F.count(F.lit(1)).over(ww).alias("wcnt"),
    )
    r = wins.select(
        F.col("rn").alias("rn2"),
        F.col("wsum").alias("wsum2"),
        F.col("wcnt").alias("wcnt2"),
    )
    mosum = (
        wins.join(r, F.col("rn2") == F.col("rn") + _MOSUM_G)
        .where((F.col("wcnt") == _MOSUM_G) & (F.col("wcnt2") == _MOSUM_G))
        .select(
            F.col("rn").alias("t"),
            F.abs(F.col("wsum2") - F.col("wsum")).alias("m"),
        )
    )
    sig = n_.select(
        F.sqrt(
            (F.col("n").cast("double") * F.col("ss") - F.col("s").cast("double") * F.col("s"))
            / (F.col("n").cast("double") * (F.col("n") - 1))
        ).alias("sigma")
    )
    return (
        mosum.orderBy(F.desc("m"), F.asc("t"))
        .limit(1)
        .crossJoin(F.broadcast(sig))
        .select(
            F.col("t").cast("bigint").alias("change_day_index"),
            F.round(
                F.col("m").cast("double")
                / (F.col("sigma") * F.sqrt(F.lit(2.0 * _MOSUM_G))),
                6,
            ).alias("mosum_statistic"),
        )
    )


# ---------------------------------------------------------------------------
# Recurrence quantification — recurrence rate and determinism of the
# daily series (nonlinear-dynamics RQA): R(i,j) iff |y_i − y_j| <
# eps = sigma/2; DET = share of recurrent pairs extending an adjacent
# diagonal. The threshold is a deterministic double from exact
# moments; all counting is exact integers over the bounded spine².
@_q(
    "recurrence_quantification",
    f"""
    WITH {_SQL_SPINE},
    n_ AS (
      SELECT COUNT(*) AS n,
             CAST(SUM(CAST(y AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS s,
             CAST(SUM(CAST(y AS DECIMAL(38,0)) * CAST(y AS DECIMAL(38,0)))
                  AS DECIMAL(38,0)) AS ss
      FROM spine
    ),
    eps AS (
      SELECT 0.5 * sqrt((CAST(n AS DOUBLE) * ss - CAST(s AS DOUBLE) * s)
                        / (CAST(n AS DOUBLE) * (n - 1))) AS e
      FROM n_
    ),
    rec AS MATERIALIZED (
      SELECT a.rn AS i, b.rn AS j
      FROM spine a JOIN spine b ON a.rn < b.rn - 1
      WHERE abs(a.y - b.y) < (SELECT e FROM eps)
    ),
    det AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_diag
      FROM rec r JOIN rec r2 ON r2.i = r.i + 1 AND r2.j = r.j + 1
    ),
    tot AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_rec FROM rec
    )
    SELECT (SELECT n_rec FROM tot) AS recurrent_pairs,
           round(CAST((SELECT n_rec FROM tot) AS DOUBLE)
                 / (CAST((SELECT n FROM n_) AS DOUBLE)
                    * ((SELECT n FROM n_) - 3) / 2.0 + 1.0), 6)
             AS recurrence_rate,
           round(CAST((SELECT n_diag FROM det) AS DOUBLE)
                 / (SELECT n_rec FROM tot), 6) AS determinism_rate
    """,
)
def q_recurrence_quantification(spark: SparkSession, sf_dir: str) -> DataFrame:
    spine = _spine(spark, sf_dir)
    n_ = spine.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("y").cast("decimal(38,0)")).cast("decimal(38,0)").alias("s"),
        F.sum(F.col("y").cast("decimal(38,0)") * F.col("y").cast("decimal(38,0)"))
        .cast("decimal(38,0)")
        .alias("ss"),
    )
    eps = n_.select(
        "n",
        (
            0.5
            * F.sqrt(
                (F.col("n").cast("double") * F.col("ss") - F.col("s").cast("double") * F.col("s"))
                / (F.col("n").cast("double") * (F.col("n") - 1))
            )
        ).alias("e"),
    )
    b = spine.select(F.col("rn").alias("j"), F.col("y").alias("yj"))
    rec = (
        spine.crossJoin(F.broadcast(eps))
        .join(b, F.col("rn") < F.col("j") - 1)
        .where(F.abs(F.col("y") - F.col("yj")) < F.col("e"))
        .select(F.col("rn").alias("i"), "j")
        .localCheckpoint(eager=True)
    )
    r2 = rec.select(F.col("i").alias("i2"), F.col("j").alias("j2"))
    det = rec.join(
        r2, (F.col("i2") == F.col("i") + 1) & (F.col("j2") == F.col("j") + 1)
    ).agg(F.count(F.lit(1)).cast("bigint").alias("n_diag"))
    tot = rec.agg(F.count(F.lit(1)).cast("bigint").alias("n_rec"))
    return (
        tot.crossJoin(det)
        .crossJoin(F.broadcast(eps.select("n")))
        .select(
            F.col("n_rec").alias("recurrent_pairs"),
            F.round(
                F.col("n_rec").cast("double")
                / (F.col("n").cast("double") * (F.col("n") - 3) / 2.0 + 1.0),
                6,
            ).alias("recurrence_rate"),
            F.round(
                F.col("n_diag").cast("double") / F.col("n_rec"), 6
            ).alias("determinism_rate"),
        )
    )


# ---------------------------------------------------------------------------
# Welch one-way ANOVA — unequal-variance k-group mean comparison
# across the 7 weekday groups (the k-sample sibling of the registry's
# welch_t_test). Group moments are exact integer sums; the W-weighted
# assembly runs over 7 bounded rows with 12-dp lattice sums.
@_q(
    "welch_anova_oneway",
    f"""
    WITH {_SQL_SPINE},
    grp AS (
      SELECT rn % 7 AS wd, y FROM spine
    ),
    moms AS MATERIALIZED (
      SELECT wd, COUNT(*) AS n,
             CAST(SUM(CAST(y AS DECIMAL(38,0))) AS DOUBLE) AS s,
             CAST(SUM(CAST(y AS DECIMAL(38,0)) * CAST(y AS DECIMAL(38,0)))
                  AS DOUBLE) AS ss
      FROM grp GROUP BY wd
    ),
    wts AS MATERIALIZED (
      SELECT wd, n, s / n / 1e8 AS m,
             n / ((n * ss - s * s) / (CAST(n AS DOUBLE) * (n - 1)) / 1e16) AS w
      FROM moms
    ),
    tot AS (
      SELECT CAST(SUM(CAST(round(w, 9) AS DECIMAL(38,9))) AS DOUBLE) AS bigw,
             CAST(SUM(CAST(round(w * m, 9) AS DECIMAL(38,9))) AS DOUBLE) AS swm,
             COUNT(*) AS k
      FROM wts
    ),
    num AS (
      SELECT CAST(SUM(CAST(round(
               w * (m - (SELECT swm / bigw FROM tot))
                 * (m - (SELECT swm / bigw FROM tot)), 9)
               AS DECIMAL(38,9))) AS DOUBLE)
             / ((SELECT k FROM tot) - 1) AS a
      FROM wts
    ),
    den AS (
      SELECT 1.0 + 2.0 * ((SELECT k FROM tot) - 2.0)
             / (CAST((SELECT k FROM tot) AS DOUBLE) * (SELECT k FROM tot) - 1.0)
             * CAST(SUM(CAST(round(
                 (1.0 - w / (SELECT bigw FROM tot))
                 * (1.0 - w / (SELECT bigw FROM tot)) / (n - 1.0), 12)
                 AS DECIMAL(38,12))) AS DOUBLE) AS b
      FROM wts
    )
    SELECT CAST((SELECT k FROM tot) AS INT) AS n_groups,
           round((SELECT a FROM num) / (SELECT b FROM den), 6)
             AS welch_f
    """,
)
def q_welch_anova_oneway(spark: SparkSession, sf_dir: str) -> DataFrame:
    spine = _spine(spark, sf_dir)
    grp = spine.select((F.col("rn") % 7).alias("wd"), "y")
    moms = grp.groupBy("wd").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("y").cast("decimal(38,0)")).cast("double").alias("s"),
        F.sum(F.col("y").cast("decimal(38,0)") * F.col("y").cast("decimal(38,0)"))
        .cast("double")
        .alias("ss"),
    )
    wts = moms.select(
        "wd",
        "n",
        (F.col("s") / F.col("n") / _YS).alias("m"),
        (
            F.col("n")
            / (
                (F.col("n") * F.col("ss") - F.col("s") * F.col("s"))
                / (F.col("n").cast("double") * (F.col("n") - 1))
                / (_YS * _YS)
            )
        ).alias("w"),
    ).localCheckpoint(eager=True)

    def _d(col, k):
        return F.sum(F.round(col, k).cast(f"decimal(38,{k})")).cast("double")

    tot = wts.agg(
        _d(F.col("w"), 9).alias("bigw"),
        _d(F.col("w") * F.col("m"), 9).alias("swm"),
        F.count(F.lit(1)).alias("k"),
    )
    j = wts.crossJoin(F.broadcast(tot))
    mbar = F.col("swm") / F.col("bigw")
    num = j.groupBy("k").agg(
        (
            _d(F.col("w") * (F.col("m") - mbar) * (F.col("m") - mbar), 9)
            / (F.col("k") - 1)
        ).alias("a")
    )
    den = j.groupBy("k", "bigw").agg(
        (
            1.0
            + 2.0
            * (F.col("k") - 2.0)
            / (F.col("k").cast("double") * F.col("k") - 1.0)
            * _d(
                (1.0 - F.col("w") / F.col("bigw"))
                * (1.0 - F.col("w") / F.col("bigw"))
                / (F.col("n") - 1.0),
                12,
            )
        ).alias("b")
    )
    return num.crossJoin(den.select("b")).select(
        F.col("k").cast("int").alias("n_groups"),
        F.round(F.col("a") / F.col("b"), 6).alias("welch_f"),
    )


# ---------------------------------------------------------------------------
# Mood's median test — k-group location comparison by counting values
# above the grand (lower) median per weekday; the chi-square is a pure
# rational of exact integer cell counts.
@_q(
    "mood_median_test",
    f"""
    WITH {_SQL_SPINE},
    med AS (
      SELECT y AS gm FROM (
        SELECT y, row_number() OVER (ORDER BY y, rn) AS i,
               COUNT(*) OVER () AS n
        FROM spine
      ) WHERE i = CAST(ceil(n / 2.0) AS BIGINT)
    ),
    cells AS (
      SELECT rn % 7 AS wd,
             CASE WHEN y > (SELECT gm FROM med) THEN 1 ELSE 0 END AS above
      FROM spine
    ),
    per AS (
      SELECT wd, COUNT(*) AS n,
             CAST(SUM(above) AS BIGINT) AS na
      FROM cells GROUP BY wd
    ),
    tot AS (
      SELECT CAST(SUM(n) AS DOUBLE) AS nn, CAST(SUM(na) AS DOUBLE) AS ta
      FROM per
    )
    SELECT CAST(7 AS INT) AS n_groups,
           round(CAST(SUM(CAST(round(
             (na - n * (SELECT ta / nn FROM tot))
               * (na - n * (SELECT ta / nn FROM tot))
               / (n * (SELECT ta / nn FROM tot)
                  * (1.0 - (SELECT ta / nn FROM tot))), 12)
             AS DECIMAL(38,12))) AS DOUBLE), 6) AS mood_chi2
    FROM per
    """,
)
def q_mood_median_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    spine = _spine(spark, sf_dir)
    wall = Window.partitionBy()
    ranked = spine.select(
        "y",
        F.row_number().over(Window.orderBy("y", "rn")).alias("i"),
        F.count(F.lit(1)).over(wall).alias("n"),
    )
    med = ranked.where(
        F.col("i") == F.ceil(F.col("n") / 2.0).cast("bigint")
    ).select(F.col("y").alias("gm"))
    cells = spine.crossJoin(F.broadcast(med)).select(
        (F.col("rn") % 7).alias("wd"),
        F.when(F.col("y") > F.col("gm"), 1).otherwise(0).alias("above"),
    )
    per = cells.groupBy("wd").agg(
        F.count(F.lit(1)).alias("n"), F.sum("above").cast("bigint").alias("na")
    )
    tot = per.agg(
        F.sum("n").cast("double").alias("nn"),
        F.sum("na").cast("double").alias("ta"),
    )
    p = F.col("ta") / F.col("nn")
    j = per.crossJoin(F.broadcast(tot))
    term = (
        (F.col("na") - F.col("n") * p)
        * (F.col("na") - F.col("n") * p)
        / (F.col("n") * p * (1.0 - p))
    )
    return j.agg(
        F.lit(7).cast("int").alias("n_groups"),
        F.round(
            F.sum(F.round(term, 12).cast("decimal(38,12)")).cast("double"), 6
        ).alias("mood_chi2"),
    )


# ---------------------------------------------------------------------------
# Ansari-Bradley scale test — weekend vs weekday dispersion via the
# folded-rank scores min(r, N+1−r) under the deterministic (y, rn)
# strict order (cents ties are measure-zero, documented). Exact
# integer scores and closed-form moments.
@_q(
    "ansari_bradley_scale",
    f"""
    WITH {_SQL_SPINE},
    lab AS (
      SELECT y, rn,
             CASE WHEN rn % 7 IN (5, 6) THEN 1 ELSE 0 END AS grp
      FROM spine
    ),
    ranked AS (
      SELECT grp,
             least(r, (SELECT COUNT(*) FROM spine) + 1 - r) AS score
      FROM (SELECT grp, row_number() OVER (ORDER BY y, rn) AS r FROM lab)
    ),
    agg AS (
      SELECT CAST(SUM(CASE WHEN grp = 1 THEN score ELSE 0 END) AS BIGINT) AS ab,
             CAST(SUM(CASE WHEN grp = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
             CAST(SUM(CASE WHEN grp = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n0,
             CAST(SUM(score) AS BIGINT) AS stot,
             CAST(SUM(CAST(score AS DECIMAL(19,0)) * CAST(score AS DECIMAL(19,0)))
                  AS DECIMAL(38,0)) AS stot2
      FROM ranked
    )
    SELECT n0 AS n_weekday, n1 AS n_weekend, ab AS ab_statistic,
           round((ab - CAST(n1 AS DOUBLE) * stot / (n0 + n1))
                 / sqrt(CAST(n1 AS DOUBLE) * n0
                        * ((n0 + n1) * CAST(stot2 AS DOUBLE)
                           - CAST(stot AS DOUBLE) * stot)
                        / (CAST(n0 + n1 AS DOUBLE) * (n0 + n1)
                           * (n0 + n1 - 1))), 6) AS z_score
    FROM agg
    """,
)
def q_ansari_bradley_scale(spark: SparkSession, sf_dir: str) -> DataFrame:
    spine = _spine(spark, sf_dir)
    n = spine.count()  # bounded day spine
    lab = spine.select(
        "y",
        "rn",
        F.when((F.col("rn") % 7).isin(5, 6), 1).otherwise(0).alias("grp"),
    )
    r = F.row_number().over(Window.orderBy("y", "rn"))
    ranked = lab.select(
        "grp", F.least(r, F.lit(n) + 1 - r).alias("score")
    )
    agg = ranked.agg(
        F.sum(F.when(F.col("grp") == 1, F.col("score")).otherwise(0))
        .cast("bigint")
        .alias("ab"),
        F.sum(F.when(F.col("grp") == 1, 1).otherwise(0)).cast("bigint").alias("n1"),
        F.sum(F.when(F.col("grp") == 0, 1).otherwise(0)).cast("bigint").alias("n0"),
        F.sum("score").cast("bigint").alias("stot"),
        F.sum(
            F.col("score").cast("decimal(19,0)") * F.col("score").cast("decimal(19,0)")
        )
        .cast("decimal(38,0)")
        .alias("stot2"),
    )
    nn = F.col("n0") + F.col("n1")
    z = (
        F.col("ab") - F.col("n1").cast("double") * F.col("stot") / nn
    ) / F.sqrt(
        F.col("n1").cast("double")
        * F.col("n0")
        * (nn * F.col("stot2").cast("double") - F.col("stot").cast("double") * F.col("stot"))
        / (nn.cast("double") * nn * (nn - 1))
    )
    return agg.select(
        F.col("n0").alias("n_weekday"),
        F.col("n1").alias("n_weekend"),
        F.col("ab").alias("ab_statistic"),
        F.round(z, 6).alias("z_score"),
    )


# ---------------------------------------------------------------------------
# Kuiper uniformity test — the circular-statistics V = D+ + D−
# goodness-of-fit of the purchase day-of-week distribution against
# uniform (invariant to where the week "starts", unlike plain KS).
# Exact integer ECDF steps over 7 cells.
@_q(
    "kuiper_uniformity",
    """
    WITH ev AS (
      -- DuckDB dayofweek is 0=Sunday..6; Spark's is 1=Sunday..7
      SELECT CAST(dayofweek(ts) + 1 AS INTEGER) AS dow
      FROM events WHERE event_type = 'purchase'
    ),
    cells AS (
      SELECT dow, COUNT(*) AS c FROM ev GROUP BY dow
    ),
    cum AS (
      SELECT dow, c,
             CAST(SUM(c) OVER (ORDER BY dow) AS DOUBLE)
               / (SELECT SUM(c) FROM cells) AS fe,
             CAST(dow AS DOUBLE) / 7.0 AS fu
      FROM cells
    ),
    dd AS (
      SELECT MAX(fe - fu) AS dplus, MAX(fu - fe) AS dminus,
             (SELECT CAST(SUM(c) AS BIGINT) FROM cells) AS n
      FROM cum
    )
    SELECT n AS n_events,
           round(dplus, 6) AS d_plus, round(dminus, 6) AS d_minus,
           round((dplus + dminus) * sqrt(CAST(n AS DOUBLE)), 6)
             AS kuiper_v_scaled
    FROM dd
    """,
)
def q_kuiper_uniformity(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = (
        t(spark, sf_dir, "events")
        .where(F.col("event_type") == "purchase")
        .select(F.dayofweek("ts").cast("int").alias("dow"))
    )
    cells = ev.groupBy("dow").agg(F.count(F.lit(1)).alias("c"))
    tot = cells.agg(F.sum("c").alias("nt"))
    cum = cells.crossJoin(F.broadcast(tot)).select(
        "dow",
        (
            F.sum("c").over(Window.orderBy("dow")).cast("double") / F.col("nt")
        ).alias("fe"),
        (F.col("dow").cast("double") / 7.0).alias("fu"),
        F.col("nt"),
    )
    dd = cum.agg(
        F.max(F.col("fe") - F.col("fu")).alias("dplus"),
        F.max(F.col("fu") - F.col("fe")).alias("dminus"),
        F.max("nt").cast("bigint").alias("n"),
    )
    return dd.select(
        F.col("n").alias("n_events"),
        F.round("dplus", 6).alias("d_plus"),
        F.round("dminus", 6).alias("d_minus"),
        F.round(
            (F.col("dplus") + F.col("dminus")) * F.sqrt(F.col("n").cast("double")),
            6,
        ).alias("kuiper_v_scaled"),
    )


# ---------------------------------------------------------------------------
# Conover squared-ranks scale test — weekend vs weekday dispersion via
# squared ranks of |x − group mean| (the parametric-power member of
# the rank scale-test family beside Ansari-Bradley). Group means are
# exact rationals (cleared via n_g·x − S_g integers); ranks are strict
# under the deterministic (value, day) order; the z-statistic is a
# closed form over exact integer rank-power sums.
@_q(
    "conover_squared_ranks",
    f"""
    WITH {_SQL_SPINE},
    lab AS (
      SELECT rn, y,
             CASE WHEN rn % 7 IN (5, 6) THEN 1 ELSE 0 END AS grp
      FROM spine
    ),
    gm AS (
      SELECT grp, COUNT(*) AS ng,
             CAST(SUM(CAST(y AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS sg
      FROM lab GROUP BY grp
    ),
    dev AS (
      -- |ng*y - Sg| is ng * |y - mean_g|: within-group scaling by the
      -- constant ng preserves the ACROSS-group order only if both
      -- groups share ng, so compare the exact rational |y - mean_g|
      -- as a DOUBLE (deterministic: exact integer inputs)
      SELECT l.rn, l.grp,
             abs(CAST(g.ng AS DOUBLE) * l.y - CAST(g.sg AS DOUBLE))
               / g.ng AS a
      FROM lab l JOIN gm g ON g.grp = l.grp
    ),
    ranked AS (
      SELECT grp,
             CAST(row_number() OVER (ORDER BY a, rn) AS BIGINT) AS r
      FROM dev
    ),
    sums AS (
      SELECT CAST(SUM(CASE WHEN grp = 1 THEN r * r ELSE 0 END) AS DECIMAL(38,0)) AS t1,
             CAST(SUM(CASE WHEN grp = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
             CAST(SUM(CASE WHEN grp = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n0,
             CAST(SUM(r * r) AS DECIMAL(38,0)) AS srr,
             CAST(SUM(CAST(r AS DECIMAL(19,0)) * CAST(r AS DECIMAL(19,0))
                      * CAST(r AS DECIMAL(19,0)) * CAST(r AS DECIMAL(19,0)))
                  AS DECIMAL(38,0)) AS sr4
      FROM ranked
    )
    SELECT n0 AS n_weekday, n1 AS n_weekend,
           round((CAST(t1 AS DOUBLE)
                  - n1 * CAST(srr AS DOUBLE) / (n0 + n1))
                 / sqrt(CAST(n1 AS DOUBLE) * n0 / (n0 + n1)
                        / (n0 + n1 - 1)
                        * (CAST(sr4 AS DOUBLE)
                           - CAST(srr AS DOUBLE) * srr / (n0 + n1))), 6)
             AS conover_z
    FROM sums
    """,
)
def q_conover_squared_ranks(spark: SparkSession, sf_dir: str) -> DataFrame:
    spine = _spine(spark, sf_dir)
    lab = spine.select(
        "rn",
        "y",
        F.when((F.col("rn") % 7).isin(5, 6), 1).otherwise(0).alias("grp"),
    )
    gm = lab.groupBy("grp").agg(
        F.count(F.lit(1)).alias("ng"),
        F.sum(F.col("y").cast("decimal(38,0)")).cast("decimal(38,0)").alias("sg"),
    )
    dev = lab.join(F.broadcast(gm), "grp").select(
        "rn",
        "grp",
        (
            F.abs(
                F.col("ng").cast("double") * F.col("y")
                - F.col("sg").cast("double")
            )
            / F.col("ng")
        ).alias("a"),
    )
    ranked = dev.select(
        "grp",
        F.row_number().over(Window.orderBy("a", "rn")).cast("bigint").alias("r"),
    )
    r19 = F.col("r").cast("decimal(19,0)")
    sums = ranked.agg(
        F.sum(F.when(F.col("grp") == 1, F.col("r") * F.col("r")).otherwise(0))
        .cast("decimal(38,0)")
        .alias("t1"),
        F.sum(F.when(F.col("grp") == 1, 1).otherwise(0)).cast("bigint").alias("n1"),
        F.sum(F.when(F.col("grp") == 0, 1).otherwise(0)).cast("bigint").alias("n0"),
        F.sum(F.col("r") * F.col("r")).cast("decimal(38,0)").alias("srr"),
        F.sum(r19 * r19 * r19 * r19).cast("decimal(38,0)").alias("sr4"),
    )
    nn = F.col("n0") + F.col("n1")
    z = (
        F.col("t1").cast("double") - F.col("n1") * F.col("srr").cast("double") / nn
    ) / F.sqrt(
        F.col("n1").cast("double")
        * F.col("n0")
        / nn
        / (nn - 1)
        * (
            F.col("sr4").cast("double")
            - F.col("srr").cast("double") * F.col("srr") / nn
        )
    )
    return sums.select(
        F.col("n0").alias("n_weekday"),
        F.col("n1").alias("n_weekend"),
        F.round(z, 6).alias("conover_z"),
    )


# ---------------------------------------------------------------------------
# Watson's U² circular uniformity — the rotation-invariant
# mean-corrected Cramér-von Mises statistic for the purchase
# day-of-week distribution (complements Kuiper's V with the quadratic
# member of the circular family). Exact ECDF cells; one fixed 7-term
# lattice sum.
@_q(
    "watson_u2_circular",
    """
    WITH ev AS (
      SELECT CAST(dayofweek(ts) + 1 AS INTEGER) AS dow
      FROM events WHERE event_type = 'purchase'
    ),
    cells AS (SELECT dow, COUNT(*) AS c FROM ev GROUP BY dow),
    cum AS (
      SELECT dow, c,
             CAST(SUM(c) OVER (ORDER BY dow) AS DOUBLE)
               / (SELECT SUM(c) FROM cells) AS fe,
             CAST(dow AS DOUBLE) / 7.0 AS fu
      FROM cells
    ),
    dbar AS (
      -- cell-count-weighted mean deviation (each observation in cell
      -- d carries the same ECDF step)
      SELECT CAST(SUM(CAST(round((fe - fu) * c, 12) AS DECIMAL(38,12)))
                  AS DOUBLE) / (SELECT SUM(c) FROM cells) AS m
      FROM cum
    ),
    u2 AS (
      SELECT CAST(SUM(CAST(round(
               ((fe - fu) - (SELECT m FROM dbar))
                 * ((fe - fu) - (SELECT m FROM dbar)) * c, 12)
               AS DECIMAL(38,12))) AS DOUBLE) AS s,
             (SELECT CAST(SUM(c) AS BIGINT) FROM cells) AS n
      FROM cum
    )
    SELECT n AS n_events,
           round(s, 6) AS watson_u2_scaled
    FROM u2
    """,
)
def q_watson_u2_circular(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = (
        t(spark, sf_dir, "events")
        .where(F.col("event_type") == "purchase")
        .select((F.dayofweek("ts") + 1).cast("int").alias("dow"))
    )
    cells = ev.groupBy("dow").agg(F.count(F.lit(1)).alias("c"))
    tot = cells.agg(F.sum("c").alias("nt"))
    cum = cells.crossJoin(F.broadcast(tot)).select(
        "dow",
        "c",
        (
            F.sum("c").over(Window.orderBy("dow")).cast("double") / F.col("nt")
        ).alias("fe"),
        (F.col("dow").cast("double") / 7.0).alias("fu"),
        "nt",
    )
    dbar = cum.agg(
        (
            F.sum(
                F.round((F.col("fe") - F.col("fu")) * F.col("c"), 12).cast(
                    "decimal(38,12)"
                )
            ).cast("double")
            / F.max("nt")
        ).alias("m"),
        F.max("nt").cast("bigint").alias("n"),
    )
    u2 = cum.crossJoin(F.broadcast(dbar)).agg(
        F.sum(
            F.round(
                ((F.col("fe") - F.col("fu")) - F.col("m"))
                * ((F.col("fe") - F.col("fu")) - F.col("m"))
                * F.col("c"),
                12,
            ).cast("decimal(38,12)")
        )
        .cast("double")
        .alias("s"),
        F.max("n").alias("n"),
    )
    return u2.select(
        F.col("n").alias("n_events"),
        F.round(F.col("s"), 6).alias("watson_u2_scaled"),
    )


# ---------------------------------------------------------------------------
# Baumgartner-Weiss-Schindler (BWS) B statistic — the variance-
# weighted rank test with power against BOTH location and scale
# shifts (stronger than Wilcoxon against spread changes). Strict
# deterministic ranks; each group's B_k is a lattice sum of exact
# rational terms; B = (B_0 + B_1)/2.
@_q(
    "bws_test",
    f"""
    WITH {_SQL_SPINE},
    lab AS (
      SELECT rn, y,
             CASE WHEN rn % 7 IN (5, 6) THEN 1 ELSE 0 END AS grp
      FROM spine
    ),
    ranked AS (
      SELECT grp,
             CAST(row_number() OVER (ORDER BY y, rn) AS BIGINT) AS r,
             CAST(row_number() OVER (PARTITION BY grp ORDER BY y, rn)
                  AS BIGINT) AS i
      FROM lab
    ),
    ns AS (
      SELECT CAST(SUM(CASE WHEN grp = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
             CAST(SUM(CASE WHEN grp = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n0
      FROM ranked
    ),
    terms AS (
      SELECT grp,
             CASE WHEN grp = 0 THEN
               (r - CAST((SELECT n0 + n1 FROM ns) AS DOUBLE)
                    / (SELECT n0 FROM ns) * i)
               * (r - CAST((SELECT n0 + n1 FROM ns) AS DOUBLE)
                      / (SELECT n0 FROM ns) * i)
               / (CAST(i AS DOUBLE) / ((SELECT n0 FROM ns) + 1)
                  * (1.0 - CAST(i AS DOUBLE) / ((SELECT n0 FROM ns) + 1))
                  * (SELECT n1 FROM ns)
                  * CAST((SELECT n0 + n1 FROM ns) AS DOUBLE)
                  / (SELECT n0 FROM ns))
             ELSE
               (r - CAST((SELECT n0 + n1 FROM ns) AS DOUBLE)
                    / (SELECT n1 FROM ns) * i)
               * (r - CAST((SELECT n0 + n1 FROM ns) AS DOUBLE)
                      / (SELECT n1 FROM ns) * i)
               / (CAST(i AS DOUBLE) / ((SELECT n1 FROM ns) + 1)
                  * (1.0 - CAST(i AS DOUBLE) / ((SELECT n1 FROM ns) + 1))
                  * (SELECT n0 FROM ns)
                  * CAST((SELECT n0 + n1 FROM ns) AS DOUBLE)
                  / (SELECT n1 FROM ns))
             END AS t
      FROM ranked
    ),
    bsums AS (
      SELECT grp,
             CAST(SUM(CAST(round(t, 9) AS DECIMAL(38,9))) AS DOUBLE) AS s,
             COUNT(*) AS ng
      FROM terms GROUP BY grp
    )
    SELECT (SELECT n0 FROM ns) AS n_weekday,
           (SELECT n1 FROM ns) AS n_weekend,
           round((MAX(CASE WHEN grp = 0 THEN s / ng END)
                  + MAX(CASE WHEN grp = 1 THEN s / ng END)) / 2.0, 6)
             AS bws_b
    FROM bsums
    """,
)
def q_bws_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    spine = _spine(spark, sf_dir)
    lab = spine.select(
        "rn",
        "y",
        F.when((F.col("rn") % 7).isin(5, 6), 1).otherwise(0).alias("grp"),
    )
    ranked = lab.select(
        "grp",
        F.row_number().over(Window.orderBy("y", "rn")).cast("bigint").alias("r"),
        F.row_number()
        .over(Window.partitionBy("grp").orderBy("y", "rn"))
        .cast("bigint")
        .alias("i"),
    )
    ns = ranked.agg(
        F.sum(F.when(F.col("grp") == 1, 1).otherwise(0)).cast("bigint").alias("n1"),
        F.sum(F.when(F.col("grp") == 0, 1).otherwise(0)).cast("bigint").alias("n0"),
    )
    j = ranked.crossJoin(F.broadcast(ns))
    nn = (F.col("n0") + F.col("n1")).cast("double")

    def term(nk, nother):
        frac = F.col("i").cast("double") / (nk + 1)
        dev = F.col("r") - nn / nk * F.col("i")
        return dev * dev / (frac * (1.0 - frac) * nother * nn / nk)

    terms = j.select(
        "grp",
        F.when(F.col("grp") == 0, term(F.col("n0"), F.col("n1")))
        .otherwise(term(F.col("n1"), F.col("n0")))
        .alias("t"),
    )
    bsums = terms.groupBy("grp").agg(
        F.sum(F.round(F.col("t"), 9).cast("decimal(38,9)")).cast("double").alias("s"),
        F.count(F.lit(1)).alias("ng"),
    )
    out = bsums.agg(
        F.max(F.when(F.col("grp") == 0, F.col("s") / F.col("ng"))).alias("b0"),
        F.max(F.when(F.col("grp") == 1, F.col("s") / F.col("ng"))).alias("b1"),
    )
    return out.crossJoin(F.broadcast(ns)).select(
        F.col("n0").alias("n_weekday"),
        F.col("n1").alias("n_weekend"),
        F.round((F.col("b0") + F.col("b1")) / 2.0, 6).alias("bws_b"),
    )
