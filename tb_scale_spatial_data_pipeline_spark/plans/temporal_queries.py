"""Temporal data-engineering shapes: SCD2 history construction, the
point-in-time (feature-store-correct) join against it, and
exponential smoothing.

These are the training-data-pipeline temporal primitives: SCD2 turns
a change log into validity intervals (one window pass — lead() over
(key, ts)), and the point-in-time join reads a dimension AS OF each
fact's timestamp — the join that prevents feature leakage when
building training sets. At 100 TB both sides shuffle once on the
entity key; the interval containment predicate evaluates inside the
per-key sort-merge join, never as a cross product (each fact matches
exactly one version per key by construction, so output size == fact
size).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ._util import t, registry

QUERIES, ORACLES, _q = registry()


# ---------------------------------------------------------------------------
# SCD2 (type-2 slowly-changing dimension) build: each user's 'signup'
# events act as the change log of a profile attribute (value); every
# change opens a version valid [ts, next_ts), the current version is
# open-ended. One lead() window per key — O(n log n_group) local sort
# after a single shuffle on user_id. Version numbers give the join
# key for downstream version-level audits.
@_q(
    "scd2_history",
    """
    SELECT user_id,
           CAST(row_number() OVER w AS BIGINT) AS version,
           round(value, 2) AS attr_value,
           strftime(ts, '%Y-%m-%d %H:%M:%S') AS valid_from,
           COALESCE(strftime(lead(ts) OVER w, '%Y-%m-%d %H:%M:%S'),
                    '9999-12-31 00:00:00') AS valid_to
    FROM events
    WHERE event_type = 'signup'
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    """,
)
def q_scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events").where(F.col("event_type") == "signup")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return ev.select(
        "user_id",
        F.row_number().over(w).cast("bigint").alias("version"),
        F.round("value", 2).alias("attr_value"),
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("valid_from"),
        F.coalesce(
            F.date_format(F.lead("ts").over(w), "yyyy-MM-dd HH:mm:ss"),
            F.lit("9999-12-31 00:00:00"),
        ).alias("valid_to"),
    )


# ---------------------------------------------------------------------------
# Point-in-time join: each purchase reads the dimension version that
# was valid AT ITS TIMESTAMP — [valid_from, valid_to) containment, the
# anti-leakage join for training-set construction (a plain latest-
# version join would leak future attribute values into past facts).
# Spark plans the equi-key + range predicate as a sort-merge join on
# user_id with the interval test inside; exactly one version matches
# per fact (intervals partition the timeline), so output == facts
# with coverage. Facts before the first version LEFT-join to NULL —
# kept visible (a silent inner join would drop early facts).
@_q(
    "scd2_point_in_time",
    """
    WITH hist AS (
      SELECT user_id, ts AS valid_from,
             COALESCE(lead(ts) OVER (PARTITION BY user_id
                                     ORDER BY ts, event_id),
                      TIMESTAMP '9999-12-31') AS valid_to,
             round(value, 2) AS attr_value
      FROM events WHERE event_type = 'signup'
    ),
    facts AS (
      SELECT event_id, user_id, ts, round(value, 2) AS amount
      FROM events WHERE event_type = 'purchase'
    )
    SELECT f.event_id, f.user_id,
           strftime(f.ts, '%Y-%m-%d %H:%M:%S') AS purchase_ts,
           f.amount, h.attr_value
    FROM facts f
    LEFT JOIN hist h ON h.user_id = f.user_id
                    AND f.ts >= h.valid_from AND f.ts < h.valid_to
    """,
)
def q_scd2_point_in_time(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    hist = ev.where(F.col("event_type") == "signup").select(
        F.col("user_id").alias("h_user"),
        F.col("ts").alias("valid_from"),
        F.coalesce(
            F.lead("ts").over(w), F.lit("9999-12-31").cast("timestamp")
        ).alias("valid_to"),
        F.round("value", 2).alias("attr_value"),
    )
    facts = ev.where(F.col("event_type") == "purchase").select(
        "event_id",
        "user_id",
        "ts",
        F.round("value", 2).alias("amount"),
    )
    j = facts.join(
        hist,
        (F.col("user_id") == F.col("h_user"))
        & (F.col("ts") >= F.col("valid_from"))
        & (F.col("ts") < F.col("valid_to")),
        "left",
    )
    return j.select(
        "event_id",
        "user_id",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("purchase_ts"),
        "amount",
        "attr_value",
    )


# ---------------------------------------------------------------------------
# Exponential moving average via the closed form: with rows numbered
# k = 1..n per key (ts order), EMA_n = α·Σ value_k·(1-α)^(n-k)
# + (1-α)^(n-1)·value_1·... — expressed exactly as a windowed sum of
# value_k·(1-α)^(-k) scaled by (1-α)^n, which overflows for long
# histories; the numerically-stable public form used here computes
# EMA recursively per key inside ONE window pass as
# Σ_{j<=k} w_j·v_j / Σ_{j<=k} w_j with w_j = (1/(1-α))^j — both
# engines evaluate the identical expression tree, and round(6)
# pins the comparison. α = 0.2; per-user over purchase values.
@_q(
    "ewma_user_values",
    """
    WITH p AS (
      SELECT user_id, event_id, ts, value,
             CAST(row_number() OVER (PARTITION BY user_id
                                     ORDER BY ts, event_id) AS DOUBLE) AS k
      FROM events WHERE event_type = 'purchase'
    )
    SELECT user_id, event_id,
           strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts,
           round(SUM(value * power(1.25, k)) OVER w
                 / SUM(power(1.25, k)) OVER w, 6) AS ewma
    FROM p
    WINDOW w AS (PARTITION BY user_id ORDER BY k
                 ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)
    """,
)
def q_ewma_user_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    # weight ratio 1/(1-α) = 1.25 for α = 0.2; the 20-row window bounds
    # the power term (1.25^20 ≈ 87) so no overflow at any history length
    # — the sliding-window EMA approximation standard in monitoring.
    ev = t(spark, sf_dir, "events").where(F.col("event_type") == "purchase")
    wk = Window.partitionBy("user_id").orderBy("ts", "event_id")
    p = ev.select(
        "user_id",
        "event_id",
        "ts",
        "value",
        F.row_number().over(wk).cast("double").alias("k"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("k")
        .rowsBetween(-19, Window.currentRow)
    )
    num = F.sum(F.col("value") * F.pow(F.lit(1.25), F.col("k"))).over(w)
    den = F.sum(F.pow(F.lit(1.25), F.col("k"))).over(w)
    return p.select(
        "user_id",
        "event_id",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("ts"),
        F.round(num / den, 6).alias("ewma"),
    )


# ---------------------------------------------------------------------------
# Holt linear trend smoothing via Brown's double-exponential form:
# s1 = EWMA(y), s2 = EWMA(s1), level = 2*s1 - s2, trend =
# (alpha/(1-alpha))*(s1 - s2), one-step forecast = level + trend.
# Brown's form makes the trend recursion expressible as TWO CHAINED
# WINDOW PASSES (the same bounded power-weighted sliding-window EWMA
# as ewma_user_values — no driver iteration, no UDF), where the
# direct Holt (l_t, b_t) recursion is a 2x2 matrix power that no
# window sum expresses. Cross-engine seam: s1 is round(6)-ed BEFORE
# feeding the second window — the per-stage re-synchronization that
# makes the nested float windows hash-exact (same discipline as the
# pagerank per-iteration round). alpha = 0.2 -> weight ratio 1.25,
# 20-row window bounds the power term.
@_q(
    "holt_double_smoothing",
    """
    WITH p AS (
      SELECT user_id, event_id, ts, value,
             CAST(row_number() OVER (PARTITION BY user_id
                                     ORDER BY ts, event_id) AS DOUBLE) AS k
      FROM events WHERE event_type = 'purchase'
    ),
    s1 AS (
      SELECT user_id, event_id, ts, k,
             round(SUM(value * power(1.25, k)) OVER w
                   / SUM(power(1.25, k)) OVER w, 6) AS s1
      FROM p
      WINDOW w AS (PARTITION BY user_id ORDER BY k
                   ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)
    ),
    s2 AS (
      SELECT user_id, event_id, ts, s1,
             round(SUM(s1 * power(1.25, k)) OVER w
                   / SUM(power(1.25, k)) OVER w, 6) AS s2
      FROM s1
      WINDOW w AS (PARTITION BY user_id ORDER BY k
                   ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)
    ),
    u AS (
      SELECT user_id, event_id, ts,
             CAST(round(s1 * 1000000.0, 0) AS BIGINT) AS u1,
             CAST(round(s2 * 1000000.0, 0) AS BIGINT) AS u2
      FROM s2
    )
    SELECT user_id, event_id,
           strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts,
           CAST(2 * u1 - u2 AS DOUBLE) / 1000000.0 AS level,
           CAST(u1 - u2 AS DOUBLE) / 4000000.0 AS trend,
           CAST(4 * (2 * u1 - u2) + (u1 - u2) AS DOUBLE) / 4000000.0
             AS forecast
    FROM u
    """,
)
def q_holt_double_smoothing(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events").where(F.col("event_type") == "purchase")
    wk = Window.partitionBy("user_id").orderBy("ts", "event_id")
    p = ev.select(
        "user_id",
        "event_id",
        "ts",
        "value",
        F.row_number().over(wk).cast("double").alias("k"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("k")
        .rowsBetween(-19, Window.currentRow)
    )
    den = F.sum(F.pow(F.lit(1.25), F.col("k"))).over(w)
    s1df = p.select(
        "user_id",
        "event_id",
        "ts",
        "k",
        F.round(
            F.sum(F.col("value") * F.pow(F.lit(1.25), F.col("k"))).over(w) / den,
            6,
        ).alias("s1"),
    )
    den2 = F.sum(F.pow(F.lit(1.25), F.col("k"))).over(w)
    s2df = s1df.select(
        "user_id",
        "event_id",
        "ts",
        "s1",
        F.round(
            F.sum(F.col("s1") * F.pow(F.lit(1.25), F.col("k"))).over(w) / den2,
            6,
        ).alias("s2"),
    )
    # final combination on the INTEGER micro-lattice: s1/s2 are 6dp
    # doubles, so u1/u2 are exact BIGINTs; level/trend/forecast are
    # then one exact integer expression + ONE final double division —
    # no round() at all, hence no half-boundary ambiguity (the raw
    # 0.25*(s1-s2) form lands exactly on x.5e-6 whenever
    # (u1-u2) % 4 == 2 and 1-ulp engine noise flips the round).
    u = s2df.select(
        "user_id",
        "event_id",
        "ts",
        F.round(F.col("s1") * 1000000.0, 0).cast("bigint").alias("u1"),
        F.round(F.col("s2") * 1000000.0, 0).cast("bigint").alias("u2"),
    )
    return u.select(
        "user_id",
        "event_id",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("ts"),
        ((2 * F.col("u1") - F.col("u2")).cast("double") / 1000000.0).alias(
            "level"
        ),
        ((F.col("u1") - F.col("u2")).cast("double") / 4000000.0).alias("trend"),
        (
            (4 * (2 * F.col("u1") - F.col("u2")) + (F.col("u1") - F.col("u2")))
            .cast("double")
            / 4000000.0
        ).alias("forecast"),
    )


# ---------------------------------------------------------------------------
# Holt-Winters ADDITIVE triple smoothing (Winters 1960) — level +
# trend + weekly (m=7) seasonality over the daily revenue series,
# completing the smoothing ladder above holt_double_smoothing (which
# cannot carry a seasonal state; Brown's two-window trick has no
# triple analog). The recursion is genuinely sequential, so the
# engine contract is the INTEGER LATTICE: revenue in exact cents,
# smoothing constants as rationals (alpha=2/10, beta=1/10,
# gamma=2/10), every update one BIGINT expression with floor
# division —
#   l_t = (2*(y_t - s_{t-7}) + 8*(l_{t-1} + b_{t-1})) // 10
#   b_t = ((l_t - l_{t-1}) + 9*b_{t-1}) // 10
#   s_t = (2*(y_t - l_t) + 8*s_{t-7}) // 10
# so both engines produce bit-identical states with NO float seam at
# all. Init: l_0 = first-week mean (floor), b_0 = 0, s_i = y_i - l_0.
# Scale shape: the corpus reduces to the BOUNDED daily spine (fixed
# ~2.4k rows at any SF) in one aggregation; the recursion runs on the
# collected spine driver-side (same bounded-collect discipline as the
# k x dim k-means centroids and the 32-candidate MMR greedy — a chain
# of 2.4k dependent steps gains nothing from 2.4k Spark jobs). The
# oracle is a DuckDB recursive CTE carrying the 7-slot seasonal
# vector as a list.
_HW_M = 7
_HW_LAST = 14


def _sql_holt_winters() -> str:
    m = _HW_M
    return f"""
    WITH daily AS (
      SELECT o_orderdate AS dte,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT)
               AS y
      FROM orders GROUP BY 1
    ),
    seq AS (
      SELECT y, row_number() OVER (ORDER BY dte) AS t,
             COUNT(*) OVER () AS n
      FROM daily
    ),
    init AS (
      SELECT CAST(SUM(y) FILTER (t <= {m}) // {m} AS BIGINT) AS l0,
             list(y ORDER BY t) AS ys,
             MAX(n) AS n
      FROM seq
    ),
    rec AS (
      WITH RECURSIVE hw AS (
        SELECT {m} AS t, init.n AS n, init.ys AS ys,
               init.l0 AS l, CAST(0 AS BIGINT) AS b,
               list_transform(init.ys[1:{m}], yy -> yy - init.l0) AS s
        FROM init
        UNION ALL
        SELECT hw.t + 1, hw.n, hw.ys,
               (2 * (hw.ys[hw.t + 1] - hw.s[1])
                + 8 * (hw.l + hw.b)) // 10 AS l,
               (((2 * (hw.ys[hw.t + 1] - hw.s[1])
                  + 8 * (hw.l + hw.b)) // 10 - hw.l)
                + 9 * hw.b) // 10 AS b,
               hw.s[2:{m}] || [
                 (2 * (hw.ys[hw.t + 1]
                       - (2 * (hw.ys[hw.t + 1] - hw.s[1])
                          + 8 * (hw.l + hw.b)) // 10)
                  + 8 * hw.s[1]) // 10] AS s
        FROM hw WHERE hw.t < hw.n
      )
      SELECT * FROM hw
    )
    SELECT CAST(t AS BIGINT) AS t,
           CAST(l AS DOUBLE) / 100 AS level,
           CAST(b AS DOUBLE) / 100 AS trend,
           CAST(s[{m}] AS DOUBLE) / 100 AS seasonal,
           CAST(l + b + s[1] AS DOUBLE) / 100 AS forecast_next
    FROM rec
    ORDER BY t DESC LIMIT {_HW_LAST}
    """


@_q("holt_winters_seasonal", _sql_holt_winters())
def q_holt_winters_seasonal(spark: SparkSession, sf_dir: str) -> DataFrame:
    m = _HW_M
    daily = (
        t(spark, sf_dir, "orders")
        .groupBy(F.col("o_orderdate").alias("dte"))
        .agg(
            (F.sum(F.col("o_totalprice").cast("decimal(18,2)")) * 100)
            .cast("bigint")
            .alias("y")
        )
        .orderBy("dte")
    )
    ys = [r["y"] for r in daily.select("y").collect()]  # bounded: day spine
    n = len(ys)

    def tdiv(a: int, d: int) -> int:
        # DuckDB's // TRUNCATES toward zero; Python's floors — they
        # disagree on every negative intermediate (trend and seasonal
        # states go negative constantly). Mirror DuckDB exactly.
        q = abs(a) // d
        return q if a >= 0 else -q

    l = tdiv(sum(ys[:m]), m)
    b = 0
    s = [y - l for y in ys[:m]]
    out = []  # (t, l, b, s_of_t, forecast)
    out.append((m, l, b, s[-1], l + b + s[0]))
    for t_i in range(m, n):
        y = ys[t_i]
        l_new = tdiv(2 * (y - s[0]) + 8 * (l + b), 10)
        b = tdiv((l_new - l) + 9 * b, 10)
        s_new = tdiv(2 * (y - l_new) + 8 * s[0], 10)
        l = l_new
        s = s[1:] + [s_new]
        out.append((t_i + 1, l, b, s_new, l + b + s[0]))
    rows = [
        (t_i, lv / 100.0, bv / 100.0, sv / 100.0, fv / 100.0)
        for (t_i, lv, bv, sv, fv) in out[-_HW_LAST:]
    ]
    rows.sort(key=lambda r: -r[0])
    return daily.sparkSession.createDataFrame(
        rows,
        "t bigint, level double, trend double, seasonal double, "
        "forecast_next double",
    )


# ---------------------------------------------------------------------------
# Croston's method for INTERMITTENT demand (Croston 1972): when a
# series is mostly zeros (a part ordered a few times a year), plain
# exponential smoothing biases toward zero; Croston smooths demand
# SIZE and inter-demand INTERVAL separately and forecasts size/
# interval. Series: daily total quantity of one part (the fixture's
# most intermittent heavy part is irrelevant — determinism picks
# l_partkey = 1). Same pure-integer-lattice recursion contract as
# holt_winters_seasonal: quantities in exact hundredths, alpha = 1/10
# as a rational, truncating division mirrored across engines, zero
# float seam. The bounded date spine collects; the recursion is
# sequential by construction.
_CROSTON_PART = 1


def _sql_croston() -> str:
    return f"""
    WITH demand AS (
      SELECT l.l_shipdate AS dte,
             CAST(SUM(CAST(l.l_quantity AS DECIMAL(18,2))) * 100 AS BIGINT)
               AS q
      FROM lineitem l WHERE l.l_partkey = {_CROSTON_PART}
      GROUP BY 1
    ),
    seq AS (
      SELECT q, row_number() OVER (ORDER BY dte) AS t,
             CAST(date_diff('day',
                  lag(dte) OVER (ORDER BY dte), dte) AS BIGINT) AS gap
      FROM demand
    ),
    init AS (
      SELECT MAX(CASE WHEN t = 1 THEN q END) AS z0,
             list(q ORDER BY t) AS qs,
             list(COALESCE(gap, 0) ORDER BY t) AS gaps,
             COUNT(*) AS n
      FROM seq
    ),
    rec AS (
      WITH RECURSIVE cr AS (
        SELECT 1 AS t, init.n AS n, init.qs AS qs, init.gaps AS gaps,
               init.z0 AS z, CAST(100 AS BIGINT) AS p
        FROM init
        UNION ALL
        SELECT cr.t + 1, cr.n, cr.qs, cr.gaps,
               (cr.qs[cr.t + 1] + 9 * cr.z) // 10 AS z,
               (100 * cr.gaps[cr.t + 1] + 9 * cr.p) // 10 AS p
        FROM cr WHERE cr.t < cr.n
      )
      SELECT * FROM cr
    )
    SELECT CAST(t AS BIGINT) AS t,
           CAST(z AS DOUBLE) / 100 AS smoothed_size,
           CAST(p AS DOUBLE) / 100 AS smoothed_interval_days,
           round(CAST(z AS DOUBLE) / p, 6) AS demand_rate_per_day
    FROM rec ORDER BY t DESC LIMIT 10
    """


@_q("croston_intermittent_demand", _sql_croston())
def q_croston_intermittent_demand(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem").where(
        F.col("l_partkey") == _CROSTON_PART
    )
    demand = (
        li.groupBy(F.col("l_shipdate").alias("dte"))
        .agg(
            (F.sum(F.col("l_quantity").cast("decimal(18,2)")) * 100)
            .cast("bigint")
            .alias("q")
        )
        .orderBy("dte")
    )
    rows = demand.collect()  # bounded: one part's demand dates
    qs = [r["q"] for r in rows]
    gaps = [0] + [
        (rows[i]["dte"] - rows[i - 1]["dte"]).days for i in range(1, len(rows))
    ]

    def tdiv(a: int, d: int) -> int:
        q = abs(a) // d
        return q if a >= 0 else -q

    z, p = qs[0], 100  # interval state in hundredths of a day
    out = [(1, z, p)]
    for t_i in range(1, len(qs)):
        z = tdiv(qs[t_i] + 9 * z, 10)
        p = tdiv(100 * gaps[t_i] + 9 * p, 10)
        out.append((t_i + 1, z, p))
    def r6(x: float) -> float:
        # DuckDB round() is half-AWAY-from-zero; Python's round() is
        # banker's — mirror DuckDB so a boundary value cannot flip
        import math

        return math.copysign(math.floor(abs(x) * 1e6 + 0.5), x) / 1e6

    res = [
        (t_i, zv / 100.0, pv / 100.0, r6(zv / pv))
        for (t_i, zv, pv) in out[-10:]
    ]
    res.sort(key=lambda r: -r[0])
    return demand.sparkSession.createDataFrame(
        res,
        "t bigint, smoothed_size double, smoothed_interval_days double, "
        "demand_rate_per_day double",
    )


# ---------------------------------------------------------------------------
# Kalman local-level filter (the structural-time-series baseline:
# random-walk level + observation noise) over daily revenue, on a
# PURE INTEGER LATTICE — the holt_winters_seasonal recursion
# contract extended with a data-adaptive noise scale. States carry
# exact integers (dollars for the level, dollars² for the variance);
# the gain is the micro-lattice integer K6 = (P·10⁶) // (P+R) and
# every update uses truncating division mirrored across engines, so
# both produce bit-identical state chains with no float seam.
# R = unbiased variance of the first 14 days (one integer formula),
# Q = R // 10, P₀ = R, l₀ = 7-day mean. Scale shape: any SF reduces
# to the bounded ~2.4k-day spine in one aggregation; the recursion
# runs driver-side on the collected spine (the HW/Croston bounded-
# collect discipline), the oracle is a recursive CTE on HUGEINTs.
_KALMAN_LAST = 14


def _sql_kalman() -> str:
    return f"""
    WITH daily AS (
      SELECT o_orderdate AS dte,
             CAST(round(SUM(CAST(o_totalprice AS DECIMAL(18,2)))) AS BIGINT)
               AS y
      FROM orders GROUP BY 1
    ),
    seq AS (
      SELECT y, row_number() OVER (ORDER BY dte) AS t,
             COUNT(*) OVER () AS n
      FROM daily
    ),
    init AS (
      SELECT CAST(SUM(y) FILTER (t <= 7) // 7 AS HUGEINT) AS l0,
             GREATEST(CAST((14 * SUM(CAST(y AS HUGEINT) * y) FILTER (t <= 14)
                            - SUM(CAST(y AS HUGEINT)) FILTER (t <= 14)
                              * SUM(CAST(y AS HUGEINT)) FILTER (t <= 14))
                           // (14 * 13) AS HUGEINT),
                      CAST(1 AS HUGEINT)) AS r,
             list(y ORDER BY t) AS ys,
             MAX(n) AS n
      FROM seq
    ),
    rec AS (
      WITH RECURSIVE kf AS (
        SELECT 1 AS t, init.n AS n, init.ys AS ys, init.r AS r,
               GREATEST(init.r // 10, CAST(1 AS HUGEINT)) AS q,
               init.l0 AS l, init.r AS p,
               CAST(0 AS HUGEINT) AS k6
        FROM init
        UNION ALL
        SELECT kf.t + 1, kf.n, kf.ys, kf.r, kf.q,
               kf.l + (((kf.p + kf.q) * 1000000 // (kf.p + kf.q + kf.r))
                       * (CAST(kf.ys[kf.t + 1] AS HUGEINT) - kf.l))
                      // 1000000 AS l,
               ((1000000 - (kf.p + kf.q) * 1000000 // (kf.p + kf.q + kf.r))
                * (kf.p + kf.q)) // 1000000 AS p,
               (kf.p + kf.q) * 1000000 // (kf.p + kf.q + kf.r) AS k6
        FROM kf WHERE kf.t < kf.n
      )
      SELECT * FROM kf
    )
    SELECT CAST(t AS BIGINT) AS t,
           CAST(l AS DOUBLE) AS level,
           CAST(k6 AS DOUBLE) / 1000000 AS gain,
           CAST(p AS DOUBLE) AS p_var
    FROM rec
    ORDER BY t DESC LIMIT {_KALMAN_LAST}
    """


@_q("kalman_local_level", _sql_kalman())
def q_kalman_local_level(spark: SparkSession, sf_dir: str) -> DataFrame:
    daily = (
        t(spark, sf_dir, "orders")
        .groupBy(F.col("o_orderdate").alias("dte"))
        .agg(
            F.round(F.sum(F.col("o_totalprice").cast("decimal(18,2)")))
            .cast("bigint")
            .alias("y")
        )
        .orderBy("dte")
    )
    ys = [int(r["y"]) for r in daily.select("y").collect()]  # bounded: day spine
    n = len(ys)

    def tdiv(a: int, d: int) -> int:
        q = abs(a) // d
        return q if (a >= 0) == (d >= 0) else -q

    l0 = tdiv(sum(ys[:7]), 7)
    s14, ss14 = sum(ys[:14]), sum(y * y for y in ys[:14])
    r = max(tdiv(14 * ss14 - s14 * s14, 14 * 13), 1)
    q = max(tdiv(r, 10), 1)
    l, p, k6 = l0, r, 0
    out = [(1, l, k6, p)]
    for t_i in range(1, n):
        y = ys[t_i]
        pp = p + q
        k6 = tdiv(pp * 1000000, pp + r)
        l = l + tdiv(k6 * (y - l), 1000000)
        p = tdiv((1000000 - k6) * pp, 1000000)
        out.append((t_i + 1, l, k6, p))
    rows = [
        (t_i, float(lv), kv / 1000000.0, float(pv))
        for (t_i, lv, kv, pv) in out[-_KALMAN_LAST:]
    ]
    rows.sort(key=lambda x: -x[0])
    return daily.sparkSession.createDataFrame(
        rows, "t bigint, level double, gain double, p_var double"
    )
