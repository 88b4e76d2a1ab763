"""Time-series and reshaping tier over `events`/`lineitem`: range-
interval window frames, gap-filled resampling with forward fill,
unpivot to long format, and null-safe joins.

These are the ops a telemetry/sensor pipeline (the event-stream face
of the reference's scanline streaming, SURVEY §1.4) runs at scale:
- range frames and resampling shuffle once on the partition key;
- the gap-fill spine is generated (no scan) and joined broadcast;
- unpivot is a generator projection — no shuffle at all;
- null-safe equality keeps sentinel-free NULL keys joinable without
  a COALESCE-to-sentinel rewrite (P6's sentinel discipline stays at
  the I/O boundary).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ._util import dsum, sql_dsum, t, registry

QUERIES, ORACLES, _q = registry()

_FMT = "yyyy-MM-dd HH:mm:ss"
_SQL_FMT = "%Y-%m-%d %H:%M:%S"


# ---------------------------------------------------------------------------
# RANGE window frame over event time: per-user trailing 10-minute sum
# and count at every event. Spark's range frame is numeric, so the
# order key is epoch seconds; DuckDB's takes the interval directly —
# same frame, two spellings.
@_q(
    "range_frame_window",
    f"""
    SELECT event_id,
           CAST(COUNT(*) OVER w AS BIGINT) AS n_10m,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) OVER w AS DOUBLE) AS sum_10m
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts
                 RANGE BETWEEN INTERVAL 10 MINUTE PRECEDING AND CURRENT ROW)
    """,
)
def q_range_frame_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events")
    # microsecond epoch, not cast-to-seconds: truncation would widen
    # the frame by up to 1s at the boundary vs the interval form
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.unix_micros(F.col("ts")))
        .rangeBetween(-600 * 1_000_000, 0)
    )
    return ev.select(
        "event_id",
        F.count(F.lit(1)).over(w).alias("n_10m"),
        F.sum(F.col("value").cast("decimal(18,2)")).over(w).cast("double").alias("sum_10m"),
    )


# ---------------------------------------------------------------------------
# Gap-filled hourly resample with forward fill: an hour spine spans
# [min, max] event time (generated, not scanned); hours with no events
# get zero counts and the last known hourly average carried forward.
# The spine is tiny (one row/hour) and broadcast; the aggregate side
# shuffles once on the hour bucket.
@_q(
    "gapfill_resample",
    f"""
    WITH hourly AS (
      SELECT date_trunc('hour', ts) AS h,
             COUNT(*) AS n,
             CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) / COUNT(value) AS avg_v
      FROM events GROUP BY 1
    ),
    bounds AS (SELECT date_trunc('hour', min(ts)) AS lo,
                      date_trunc('hour', max(ts)) AS hi FROM events),
    spine AS (SELECT unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS h FROM bounds),
    joined AS (
      SELECT s.h, COALESCE(n, 0) AS n_events, avg_v FROM spine s
      LEFT JOIN hourly USING (h)
    )
    SELECT strftime(h, '{_SQL_FMT}') AS hour_ts,
           n_events,
           round(last_value(avg_v IGNORE NULLS) OVER
                 (ORDER BY h ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 6)
             AS ffill_avg
    FROM joined
    """,
)
def q_gapfill_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events")
    hourly = ev.groupBy(F.date_trunc("hour", "ts").alias("h")).agg(
        F.count(F.lit(1)).alias("n"),
        (
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double")
            / F.count("value")
        ).alias("avg_v"),
    )
    bounds = ev.agg(
        F.date_trunc("hour", F.min("ts")).alias("lo"),
        F.date_trunc("hour", F.max("ts")).alias("hi"),
    )
    spine = bounds.select(
        F.explode(F.sequence("lo", "hi", F.expr("INTERVAL 1 HOUR"))).alias("h")
    )
    joined = spine.join(hourly, "h", "left").select(
        "h", F.coalesce("n", F.lit(0)).alias("n_events"), "avg_v"
    )
    w = Window.orderBy("h").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return joined.select(
        F.date_format("h", _FMT).alias("hour_ts"),
        "n_events",
        F.round(F.last("avg_v", ignorenulls=True).over(w), 6).alias("ffill_avg"),
    )


# ---------------------------------------------------------------------------
# Unpivot to long format: lineitem's four measures as (measure, value)
# rows — a generator projection (4 output rows per input, no shuffle)
# — then folded to per-measure totals so the verified result is the
# measure summary, not 4×|lineitem| raw rows.
@_q(
    "unpivot_measures",
    f"""
    SELECT measure, COUNT(*) AS n, {sql_dsum('v')} AS total
    FROM lineitem
    UNPIVOT (v FOR measure IN (l_quantity, l_extendedprice, l_discount, l_tax))
    GROUP BY measure
    """,
)
def q_unpivot_measures(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem")
    long = li.unpivot(
        ["l_orderkey", "l_linenumber"],
        ["l_quantity", "l_extendedprice", "l_discount", "l_tax"],
        "measure",
        "value",
    )
    return long.groupBy("measure").agg(
        F.count(F.lit(1)).alias("n"), dsum(F.col("value")).alias("total")
    )


# ---------------------------------------------------------------------------
# Null-safe equality join (<=> / IS NOT DISTINCT FROM): 'error' events
# carry a NULL join key; a plain equi-join silently drops them, the
# null-safe form keeps NULL==NULL matches — no sentinel rewrite needed.
@_q(
    "null_safe_join",
    """
    WITH keyed AS (SELECT nullif(event_type, 'error') AS k, value FROM events),
    dims AS (SELECT DISTINCT nullif(event_type, 'error') AS k FROM events)
    SELECT d.k, COUNT(*) AS n
    FROM keyed e JOIN dims d ON e.k IS NOT DISTINCT FROM d.k
    GROUP BY d.k
    """,
)
def q_null_safe_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events")
    keyed = ev.select(F.nullif("event_type", F.lit("error")).alias("k"), "value")
    dims = keyed.select("k").distinct().select(F.col("k").alias("dk"))
    return (
        keyed.join(F.broadcast(dims), keyed["k"].eqNullSafe(dims["dk"]))
        .groupBy("dk")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("dk").alias("k"), "n")
    )


# ---------------------------------------------------------------------------
# Rolling z-score anomaly detection: each event scored against the
# mean/std of the 20 events preceding it (same user ordering by ts).
# Moments come from decimal-exact frame sums (Σw, Σw²) — the same
# one-pass power-sum discipline as stats_moments, windowed: no second
# pass, no mean-then-residual instability, deterministic under any
# partitioning. Emits only |z| > 3 anomalies.
@_q(
    "rolling_zscore_anomaly",
    """
    WITH f AS (
      SELECT user_id, event_id, value,
             COUNT(*) OVER w AS n,
             CAST(SUM(CAST(value AS DECIMAL(18,2))) OVER w AS DOUBLE) AS s1,
             CAST(SUM(CAST(CAST(value AS DECIMAL(18,2))
                           * CAST(value AS DECIMAL(18,2))
                           AS DECIMAL(24,4))) OVER w AS DOUBLE) AS s2
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN 20 PRECEDING AND 1 PRECEDING)
    )
    SELECT user_id, event_id,
           round((value - s1 / n)
                 / sqrt(s2 / n - (s1 / n) * (s1 / n)), 6) AS z
    FROM f
    WHERE n >= 10
      AND s2 / n - (s1 / n) * (s1 / n) > 0
      AND abs((value - s1 / n)
              / sqrt(s2 / n - (s1 / n) * (s1 / n))) > 3
    """,
)
def q_rolling_zscore_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = t(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.asc("ts"), F.asc("event_id"))
        .rowsBetween(-20, -1)
    )
    vd = F.col("value").cast("decimal(18,2)")
    f = ev.select(
        "user_id",
        "event_id",
        "value",
        F.count(F.lit(1)).over(w).alias("n"),
        F.sum(vd).over(w).cast("double").alias("s1"),
        F.sum((vd * vd).cast("decimal(24,4)")).over(w).cast("double").alias("s2"),
    )
    mean = F.col("s1") / F.col("n")
    var = F.col("s2") / F.col("n") - mean * mean
    z = (F.col("value") - mean) / F.sqrt(var)
    return f.where((F.col("n") >= 10) & (var > 0) & (F.abs(z) > 3)).select(
        "user_id", "event_id", F.round(z, 6).alias("z")
    )


# ---------------------------------------------------------------------------
# Equi-width histogram: order totals bucketed into fixed 25k bands —
# floor division IS the bucket key, so the whole histogram is one
# map-side-combinable aggregation (no sorting, no percentile state).
@_q(
    "price_histogram",
    """
    SELECT CAST(floor(o_totalprice / 25000.0) AS BIGINT) AS bucket,
           CAST(floor(o_totalprice / 25000.0) * 25000 AS DOUBLE) AS lo,
           COUNT(*) AS n
    FROM orders
    GROUP BY 1, 2
    """,
)
def q_price_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = t(spark, sf_dir, "orders")
    bucket = F.floor(F.col("o_totalprice") / 25000.0)
    return orders.groupBy(
        bucket.cast("bigint").alias("bucket"),
        (bucket * 25000).cast("double").alias("lo"),
    ).agg(F.count(F.lit(1)).alias("n"))


# ---------------------------------------------------------------------------
# OHLC bars: per (event_type, 10-minute bucket) the first/max/min/last
# value. Open/close use min_by/max_by on the (ts, event_id) composite
# so duplicate timestamps break ties deterministically — one
# aggregation pass, no window re-sort, partials combine map-side (the
# candle-builder shape for market/telemetry rollups at any scale).
@_q(
    "ohlc_bars",
    f"""
    WITH e AS (
      SELECT event_type, time_bucket(INTERVAL '10 minutes', ts) AS b,
             ts, event_id, value
      FROM events
    ), r AS (
      -- DuckDB's arg_min/arg_max take scalar keys only, so the twin
      -- expresses the same (ts, event_id) composite order as windows
      SELECT *,
        row_number() OVER (PARTITION BY event_type, b
                           ORDER BY ts, event_id) AS rn_a,
        row_number() OVER (PARTITION BY event_type, b
                           ORDER BY ts DESC, event_id DESC) AS rn_d
      FROM e
    )
    SELECT strftime(b, '{_SQL_FMT}') AS wstart, event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           max(CASE WHEN rn_a = 1 THEN value END) AS open,
           max(value) AS high,
           min(value) AS low,
           max(CASE WHEN rn_d = 1 THEN value END) AS close
    FROM r GROUP BY b, event_type
    """,
)
def q_ohlc_bars(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events")
    key = F.struct(F.col("ts"), F.col("event_id"))
    return (
        ev.groupBy(
            F.window("ts", "10 minutes").alias("w"), "event_type"
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min_by("value", key).alias("open"),
            F.max("value").alias("high"),
            F.min("value").alias("low"),
            F.max_by("value", key).alias("close"),
        )
        .select(
            F.date_format("w.start", _FMT).alias("wstart"),
            "event_type",
            "n",
            "open",
            "high",
            "low",
            "close",
        )
    )


# ---------------------------------------------------------------------------
# CUSUM change-point detection, closed form. The textbook one-sided
# CUSUM is the sequential recurrence s_i = max(0, s_{i-1} + (x_i - c))
# — apparently unparallelizable. But unrolling gives
#   s_i = P_i - min(0, P_0, ..., P_i)   with P = running sum of (x-c),
# so it is TWO window functions (running sum + running min), no
# recursion, no applyInPandas. Per-user windows mean the global plan
# is embarrassingly parallel over users at 100 TB; arithmetic stays on
# the decimal lattice (values have <=2 dp) so both engines produce
# bit-identical statistics in any partitioning. Rows where s crosses
# the alarm threshold h are the change-point alarms.
_CUSUM_C = 65.0    # drift allowance: a bit above the value mean (~50)
_CUSUM_H = 180.0   # alarm threshold


@_q(
    "cusum_changepoint",
    f"""
    WITH stepped AS (
      SELECT user_id, ts, event_id,
             SUM(CAST(value - {_CUSUM_C} AS DECIMAL(18,2)))
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS UNBOUNDED PRECEDING) AS p
      FROM events
    ), runmin AS (
      SELECT user_id, ts, event_id, p,
             MIN(p) OVER (PARTITION BY user_id ORDER BY ts, event_id
                          ROWS UNBOUNDED PRECEDING) AS m
      FROM stepped
    ), cusum AS (
      -- CASE, not LEAST: DuckDB's LEAST over decimals promotes to
      -- DOUBLE, silently losing the exact-lattice property
      SELECT user_id, ts, event_id,
             CASE WHEN m < 0 THEN p - m ELSE p END AS s
      FROM runmin
    )
    SELECT user_id, ts, event_id, CAST(s AS DOUBLE) AS cusum_stat
    FROM cusum WHERE s > {_CUSUM_H}
    """,
)
def q_cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    p = F.sum((F.col("value") - F.lit(_CUSUM_C)).cast("decimal(18,2)")).over(w)
    stepped = ev.select("user_id", "ts", "event_id", p.alias("p"))
    m = F.min("p").over(
        Window.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(
            Window.unboundedPreceding, Window.currentRow
        )
    )
    s = F.when(m < 0, F.col("p") - m).otherwise(F.col("p"))
    return (
        stepped.withColumn("s", s)
        .where(F.col("s") > _CUSUM_H)
        .select("user_id", "ts", "event_id", F.col("s").cast("double").alias("cusum_stat"))
    )


# ---------------------------------------------------------------------------
# Seasonal-naive forecast backtest with MASE scoring: forecast(d) =
# revenue(d-7) (weekly seasonal naive), scored as MAE over the days
# where the lag exists and scaled by the naive-1 MAE — MASE < 1 means
# the seasonal model beats the random-walk baseline. The daily rollup
# is the only corpus-scale aggregation; the backtest runs on the
# bounded date table. Absolute errors are exact decimals (2-dp
# revenues), so both MAEs are order-independent sums; the final ratio
# is one double division.
@_q(
    "seasonal_naive_mase",
    """
    WITH daily AS (
      SELECT CAST(o_orderdate AS DATE) AS d,
             SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS rev
      FROM orders GROUP BY 1
    ), lagged AS (
      SELECT d, rev,
             lag(rev, 7) OVER (ORDER BY d) AS rev_s,
             lag(rev, 1) OVER (ORDER BY d) AS rev_1
      FROM daily
    ), scored AS (
      SELECT abs(rev - rev_s) AS e_model, abs(rev - rev_1) AS e_naive
      FROM lagged WHERE rev_s IS NOT NULL AND rev_1 IS NOT NULL
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_days,
           CAST(SUM(e_model) AS DOUBLE) / COUNT(*) AS mae_model,
           CAST(SUM(e_naive) AS DOUBLE) / COUNT(*) AS mae_naive,
           round(CAST(SUM(e_model) AS DOUBLE) / CAST(SUM(e_naive) AS DOUBLE), 6)
             AS mase
    FROM scored
    """,
)
def q_seasonal_naive_mase(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = t(spark, sf_dir, "orders")
    daily = orders.groupBy(
        F.col("o_orderdate").cast("date").alias("d")
    ).agg(F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("rev"))
    w = Window.orderBy("d")
    lagged = daily.select(
        "rev",
        F.lag("rev", 7).over(w).alias("rev_s"),
        F.lag("rev", 1).over(w).alias("rev_1"),
    ).where(F.col("rev_s").isNotNull() & F.col("rev_1").isNotNull())
    scored = lagged.select(
        F.abs(F.col("rev") - F.col("rev_s")).alias("e_model"),
        F.abs(F.col("rev") - F.col("rev_1")).alias("e_naive"),
    )
    return scored.agg(
        F.count(F.lit(1)).alias("n_days"),
        (F.sum("e_model").cast("double") / F.count(F.lit(1))).alias("mae_model"),
        (F.sum("e_naive").cast("double") / F.count(F.lit(1))).alias("mae_naive"),
        F.round(
            F.sum("e_model").cast("double") / F.sum("e_naive").cast("double"), 6
        ).alias("mase"),
    )


# ---------------------------------------------------------------------------
# Single change-point by binary segmentation (the first split of the
# CUSUM-alternative family): over the hourly revenue series, choose
# the split t that maximizes the between-segment sum of squares
# SS(t) = S_t²/t + (S - S_t)²/(n - t) — equivalently minimizes
# within-segment variance. Values enter as exact integer cents, the
# prefix sums S_t are exact BIGINTs over the REDUCED hourly series
# (never raw events), and the objective is ONE fixed expression per
# candidate t from those exact integers — engine-identical doubles,
# argmax by max(struct(ss, -t)) with deterministic earliest-t ties.
@_q(
    "binary_segmentation_split",
    """
    WITH hourly AS (
      SELECT time_bucket(INTERVAL '1 hour', ts) AS h,
             CAST(SUM(CAST(round(value * 100.0, 0) AS BIGINT)) AS BIGINT)
               AS cents
      FROM events WHERE event_type = 'purchase' GROUP BY 1
    ),
    seq AS (
      SELECT row_number() OVER (ORDER BY h) AS pos, cents,
             SUM(cents) OVER (ORDER BY h
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS s_t,
             COUNT(*) OVER () AS n,
             SUM(cents) OVER () AS s_all
      FROM hourly
    ),
    scored AS (
      SELECT pos, s_t, n, s_all,
             CAST(s_t AS DOUBLE) * s_t / pos
             + CAST(s_all - s_t AS DOUBLE) * (s_all - s_t) / (n - pos)
               AS between_ss
      FROM seq WHERE pos < n
    ),
    best AS (
      SELECT pos, between_ss, s_t, n, s_all,
             MAX(between_ss) OVER () AS mx
      FROM scored
    )
    SELECT CAST(pos AS BIGINT) AS split_pos,
           CAST(n AS BIGINT) AS n_hours,
           round(CAST(s_t AS DOUBLE) / pos / 100.0, 6) AS left_mean,
           round(CAST(s_all - s_t AS DOUBLE) / (n - pos) / 100.0, 6)
             AS right_mean,
           round(between_ss / 10000.0, 4) AS between_ss
    FROM best WHERE between_ss = mx
    ORDER BY pos LIMIT 1
    """,
)
def q_binary_segmentation_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events").where(F.col("event_type") == "purchase")
    hourly = ev.groupBy(
        F.date_trunc("hour", F.col("ts")).alias("h")
    ).agg(
        F.sum(F.round(F.col("value") * 100.0, 0).cast("bigint"))
        .cast("bigint")
        .alias("cents")
    )
    w_ord = Window.orderBy("h")
    w_cum = w_ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    w_all = Window.orderBy(F.lit(1)).rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    seq = hourly.select(
        F.row_number().over(w_ord).alias("pos"),
        F.sum("cents").over(w_cum).alias("s_t"),
        F.count(F.lit(1)).over(w_all).alias("n"),
        F.sum("cents").over(w_all).alias("s_all"),
    )
    rest = F.col("s_all") - F.col("s_t")
    ss = F.col("s_t").cast("double") * F.col("s_t") / F.col("pos") + rest.cast(
        "double"
    ) * rest / (F.col("n") - F.col("pos"))
    scored = seq.where(F.col("pos") < F.col("n")).select(
        "pos", "s_t", "n", "s_all", ss.alias("between_ss")
    )
    # argmax with earliest-pos tie: max(struct(ss, -pos))
    best = scored.agg(
        F.max(
            F.struct(F.col("between_ss"), (-F.col("pos")).alias("np"))
        ).alias("m")
    )
    return (
        scored.join(
            F.broadcast(best),
            (scored["between_ss"] == F.col("m.between_ss"))
            & (scored["pos"] == -F.col("m.np")),
        )
        .select(
            F.col("pos").cast("bigint").alias("split_pos"),
            F.col("n").cast("bigint").alias("n_hours"),
            F.round(
                F.col("s_t").cast("double") / F.col("pos") / 100.0, 6
            ).alias("left_mean"),
            F.round(
                (F.col("s_all") - F.col("s_t")).cast("double")
                / (F.col("n") - F.col("pos"))
                / 100.0,
                6,
            ).alias("right_mean"),
            F.round(F.col("between_ss") / 10000.0, 4).alias("between_ss"),
        )
    )


# ---------------------------------------------------------------------------
# Forecast-combination backtest (Bates & Granger 1969: the simple
# average of forecasters beats its components) — one-step-ahead
# walk-forward over the daily revenue series with three baselines:
# naive (y_{t-1}), seasonal naive (y_{t-7}), 7-day moving average,
# and their equal-weight combination. EXACT lattice: revenue in
# cents; the MA and the combo are RATIONALS kept as scaled integers
# (ma7 = s7/7; combo = (7·naive + 7·snaive + s7)/21), so every
# absolute error is an exact BIGINT-numerator rational and each MAE
# is ONE division of exact decimal sums. The windows run over the
# per-day aggregate (time-spine-bounded frame, the OHLC/Holt
# convention), never the raw rows.
@_q(
    "forecast_combination_backtest",
    """
    WITH daily AS (
      SELECT CAST(o_orderdate AS DATE) AS d,
             CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS y
      FROM orders GROUP BY 1
    ),
    f AS (
      SELECT d, y,
             row_number() OVER (ORDER BY d) AS rn,
             lag(y, 1) OVER (ORDER BY d) AS naive,
             lag(y, 7) OVER (ORDER BY d) AS snaive,
             SUM(y) OVER (ORDER BY d
               ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING) AS s7
      FROM daily
    ),
    ev AS (SELECT * FROM f WHERE rn > 7)
    SELECT * FROM (
      SELECT 'naive' AS forecaster, CAST(COUNT(*) AS BIGINT) AS n_days,
             round(CAST(SUM(CAST(ABS(y - naive) AS HUGEINT)) AS DOUBLE)
                   / (100.0 * COUNT(*)), 6) AS mae_dollars
      FROM ev
      UNION ALL
      SELECT 'seasonal_naive', CAST(COUNT(*) AS BIGINT),
             round(CAST(SUM(CAST(ABS(y - snaive) AS HUGEINT)) AS DOUBLE)
                   / (100.0 * COUNT(*)), 6)
      FROM ev
      UNION ALL
      SELECT 'moving_avg_7', CAST(COUNT(*) AS BIGINT),
             round(CAST(SUM(CAST(ABS(7 * y - s7) AS HUGEINT)) AS DOUBLE)
                   / (700.0 * COUNT(*)), 6)
      FROM ev
      UNION ALL
      SELECT 'combo_equal_weight', CAST(COUNT(*) AS BIGINT),
             round(CAST(SUM(CAST(ABS(21 * y - (7 * naive + 7 * snaive + s7))
                                 AS HUGEINT)) AS DOUBLE)
                   / (2100.0 * COUNT(*)), 6)
      FROM ev
    ) ORDER BY forecaster
    """,
)
def q_forecast_combination_backtest(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    o = t(spark, sf_dir, "orders")
    daily = o.groupBy(
        F.col("o_orderdate").cast("date").alias("d")
    ).agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint"))
        .cast("bigint")
        .alias("y")
    )
    w = Window.orderBy("d")
    wma = Window.orderBy("d").rowsBetween(-7, -1)
    f = daily.select(
        "d",
        "y",
        F.row_number().over(w).alias("rn"),
        F.lag("y", 1).over(w).alias("naive"),
        F.lag("y", 7).over(w).alias("snaive"),
        F.sum("y").over(wma).alias("s7"),
    )
    ev = f.where(F.col("rn") > 7).localCheckpoint(eager=True)  # 4 readers
    dec = lambda c: c.cast("decimal(38,0)")

    def arm(name: str, num, den: float) -> DataFrame:
        return ev.agg(
            F.lit(name).alias("forecaster"),
            F.count(F.lit(1)).cast("bigint").alias("n_days"),
            F.round(
                F.sum(dec(F.abs(num))).cast("double")
                / (F.lit(den) * F.count(F.lit(1))),
                6,
            ).alias("mae_dollars"),
        )

    arms = [
        arm("naive", F.col("y") - F.col("naive"), 100.0),
        arm("seasonal_naive", F.col("y") - F.col("snaive"), 100.0),
        arm("moving_avg_7", 7 * F.col("y") - F.col("s7"), 700.0),
        arm(
            "combo_equal_weight",
            21 * F.col("y")
            - (7 * F.col("naive") + 7 * F.col("snaive") + F.col("s7")),
            2100.0,
        ),
    ]
    from functools import reduce

    return reduce(lambda a, b: a.unionByName(b), arms).orderBy("forecaster")


# ---------------------------------------------------------------------------
# SAX symbolic motif census (Lin et al. 2003) — the time-series
# indexing primitive: daily revenue → 7-day PAA segments → gaussian
# breakpoint symbols (alphabet 4: breakpoints −0.6745/0/0.6745) →
# sliding 3-symbol words, counted. Exactness: daily values and their
# global (S, Q, N) moments are exact cents integers; each segment's
# z-score is ONE double expression from exact ints, round(6)-ed
# BEFORE the breakpoint compare (the rounded-compare seam), so the
# symbol assignment is engine-identical. All windows ride the bounded
# day/segment spine.
@_q(
    "sax_motif_census",
    """
    WITH daily AS (
      SELECT CAST(o_orderdate AS DATE) AS d,
             CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS y
      FROM orders GROUP BY 1
    ),
    idx AS (
      SELECT y, row_number() OVER (ORDER BY d) - 1 AS rn FROM daily
    ),
    mom AS (
      SELECT COUNT(*) AS n, SUM(CAST(y AS HUGEINT)) AS s,
             SUM(CAST(y AS HUGEINT) * y) AS q
      FROM idx
    ),
    seg AS (
      SELECT rn // 7 AS sid, SUM(CAST(y AS HUGEINT)) AS ss, COUNT(*) AS sn
      FROM idx GROUP BY rn // 7 HAVING COUNT(*) = 7
    ),
    z AS (
      SELECT sid,
             round((CAST(ss AS DOUBLE) / sn - CAST(s AS DOUBLE) / n)
                   / sqrt((CAST(q AS DOUBLE) - CAST(s AS DOUBLE) * s / n)
                          / n), 6) AS zv
      FROM seg CROSS JOIN mom
    ),
    sym AS (
      SELECT sid,
             CASE WHEN zv < -0.6745 THEN 'a' WHEN zv < 0 THEN 'b'
                  WHEN zv < 0.6745 THEN 'c' ELSE 'd' END AS c
      FROM z
    ),
    words AS (
      SELECT c || lead(c, 1) OVER (ORDER BY sid)
               || lead(c, 2) OVER (ORDER BY sid) AS w
      FROM sym
    )
    SELECT w AS sax_word, CAST(COUNT(*) AS BIGINT) AS n_occurrences
    FROM words WHERE w IS NOT NULL
    GROUP BY w ORDER BY n_occurrences DESC, sax_word LIMIT 10
    """,
)
def q_sax_motif_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = t(spark, sf_dir, "orders")
    daily = o.groupBy(F.col("o_orderdate").cast("date").alias("d")).agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint"))
        .cast("bigint")
        .alias("y")
    )
    idx = daily.select(
        "y", (F.row_number().over(Window.orderBy("d")) - 1).alias("rn")
    )
    dec = lambda c: F.col(c).cast("decimal(38,0)")
    mrow = idx.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(dec("y")).alias("s"),
        F.sum(dec("y") * F.col("y")).alias("q"),
    ).collect()[0]
    n, s, qq = int(mrow["n"]), int(mrow["s"]), int(mrow["q"])
    seg = (
        idx.groupBy(F.expr("rn DIV 7").alias("sid"))
        .agg(F.sum(dec("y")).alias("ss"), F.count(F.lit(1)).alias("sn"))
        .where(F.col("sn") == 7)
    )
    mu = float(s) / n
    sig_expr = F.sqrt(
        (F.lit(float(qq)) - F.lit(float(s)) * s / n) / F.lit(n)
    )
    zv = F.round(
        (F.col("ss").cast("double") / F.col("sn") - F.lit(mu)) / sig_expr, 6
    )
    sym = seg.select(
        "sid",
        F.when(zv < -0.6745, "a")
        .when(zv < 0, "b")
        .when(zv < 0.6745, "c")
        .otherwise("d")
        .alias("c"),
    )
    w = Window.orderBy("sid")
    words = sym.select(
        F.concat(
            F.col("c"), F.lead("c", 1).over(w), F.lead("c", 2).over(w)
        ).alias("w")
    ).where(F.col("w").isNotNull())
    return (
        words.groupBy(F.col("w").alias("sax_word"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_occurrences"))
        .orderBy(F.desc("n_occurrences"), "sax_word")
        .limit(10)
    )


# ---------------------------------------------------------------------------
# Partial autocorrelation to lag 4 via the Durbin–Levinson recursion
# unrolled in closed form (Box & Jenkins ch.3) — PACF is what
# identifies AR order where autocorrelation_lags can't (ACF tails,
# PACF cuts). Exactness ladder: lag covariances are EXACT N²-scaled
# integers Σ(N·y_t − S)(N·y_{t+k} − S) in DECIMAL(38,0)/HUGEINT, the
# r_k ratios are doubles from exact integers, and the DL recursion is
# the IDENTICAL closed-form expression text on both engines (pure
# scalar algebra on a 1-row frame) with round(6) at report time.
# Plan: one moments pass + one self-join via lead() over the bounded
# day spine; the recursion costs nothing.
@_q(
    "pacf_durbin_levinson",
    """
    WITH daily AS (
      SELECT CAST(o_orderdate AS DATE) AS d,
             CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS y
      FROM orders GROUP BY 1
    ),
    lagd AS (
      SELECT y,
             lead(y, 1) OVER (ORDER BY d) AS y1,
             lead(y, 2) OVER (ORDER BY d) AS y2,
             lead(y, 3) OVER (ORDER BY d) AS y3,
             lead(y, 4) OVER (ORDER BY d) AS y4
      FROM daily
    ),
    mom AS (
      SELECT COUNT(*) AS n, SUM(CAST(y AS HUGEINT)) AS s FROM daily
    ),
    cov AS (
      SELECT
        SUM((CAST(m.n AS HUGEINT) * l.y - m.s)
            * (CAST(m.n AS HUGEINT) * l.y - m.s)) AS c0,
        SUM(CASE WHEN l.y1 IS NOT NULL
            THEN (CAST(m.n AS HUGEINT) * l.y - m.s)
                 * (CAST(m.n AS HUGEINT) * l.y1 - m.s) END) AS c1,
        SUM(CASE WHEN l.y2 IS NOT NULL
            THEN (CAST(m.n AS HUGEINT) * l.y - m.s)
                 * (CAST(m.n AS HUGEINT) * l.y2 - m.s) END) AS c2,
        SUM(CASE WHEN l.y3 IS NOT NULL
            THEN (CAST(m.n AS HUGEINT) * l.y - m.s)
                 * (CAST(m.n AS HUGEINT) * l.y3 - m.s) END) AS c3,
        SUM(CASE WHEN l.y4 IS NOT NULL
            THEN (CAST(m.n AS HUGEINT) * l.y - m.s)
                 * (CAST(m.n AS HUGEINT) * l.y4 - m.s) END) AS c4
      FROM lagd l CROSS JOIN mom m
    ),
    r AS (
      SELECT CAST(c1 AS DOUBLE) / CAST(c0 AS DOUBLE) AS r1,
             CAST(c2 AS DOUBLE) / CAST(c0 AS DOUBLE) AS r2,
             CAST(c3 AS DOUBLE) / CAST(c0 AS DOUBLE) AS r3,
             CAST(c4 AS DOUBLE) / CAST(c0 AS DOUBLE) AS r4
      FROM cov
    ),
    dl AS (
      SELECT r1, r2, r3, r4,
             r1 AS p11,
             (r2 - r1 * r1) / (1 - r1 * r1) AS p22
      FROM r
    ),
    dl2 AS (
      SELECT *, r1 - p22 * r1 AS p21 FROM dl
    ),
    dl3 AS (
      SELECT *,
             (r3 - p21 * r2 - p22 * r1)
               / (1 - p21 * r1 - p22 * r2) AS p33
      FROM dl2
    ),
    dl4 AS (
      SELECT *, p21 - p33 * p22 AS p31, p22 - p33 * p21 AS p32 FROM dl3
    ),
    dl5 AS (
      SELECT *,
             (r4 - p31 * r3 - p32 * r2 - p33 * r1)
               / (1 - p31 * r1 - p32 * r2 - p33 * r3) AS p44
      FROM dl4
    )
    SELECT * FROM (
      SELECT 1 AS lag, round(p11, 6) AS pacf FROM dl5
      UNION ALL SELECT 2, round(p22, 6) FROM dl5
      UNION ALL SELECT 3, round(p33, 6) FROM dl5
      UNION ALL SELECT 4, round(p44, 6) FROM dl5
    ) ORDER BY lag
    """,
)
def q_pacf_durbin_levinson(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = t(spark, sf_dir, "orders")
    daily = o.groupBy(F.col("o_orderdate").cast("date").alias("d")).agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint"))
        .cast("bigint")
        .alias("y")
    )
    w = Window.orderBy("d")
    lagd = daily.select(
        "y",
        *[F.lead("y", k).over(w).alias(f"y{k}") for k in range(1, 5)],
    )
    mrow = daily.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("y").cast("decimal(38,0)")).alias("s"),
    ).collect()[0]
    n, s = int(mrow["n"]), int(mrow["s"])
    dev = lambda c: F.lit(n).cast("decimal(38,0)") * F.col(c) - F.lit(s).cast(
        "decimal(38,0)"
    )
    cov = lagd.agg(
        F.sum(dev("y") * dev("y")).alias("c0"),
        *[
            F.sum(
                F.when(F.col(f"y{k}").isNotNull(), dev("y") * dev(f"y{k}"))
            ).alias(f"c{k}")
            for k in range(1, 5)
        ],
    ).collect()[0]
    c0 = float(cov["c0"])
    r1, r2, r3, r4 = (float(cov[f"c{k}"]) / c0 for k in range(1, 5))
    # Durbin-Levinson closed form — same expression order as the SQL
    p11 = r1
    p22 = (r2 - r1 * r1) / (1 - r1 * r1)
    p21 = r1 - p22 * r1
    p33 = (r3 - p21 * r2 - p22 * r1) / (1 - p21 * r1 - p22 * r2)
    p31 = p21 - p33 * p22
    p32 = p22 - p33 * p21
    p44 = (r4 - p31 * r3 - p32 * r2 - p33 * r1) / (
        1 - p31 * r1 - p32 * r2 - p33 * r3
    )
    rows = [(1, round(p11, 6)), (2, round(p22, 6)), (3, round(p33, 6)), (4, round(p44, 6))]
    return o.sparkSession.createDataFrame(rows, "lag int, pacf double").orderBy(
        "lag"
    )


# ---------------------------------------------------------------------------
# Ljung–Box portmanteau test (Ljung & Box 1978) on the daily revenue
# series — "is there ANY autocorrelation in the first 4 lags?", the
# residual-whiteness check that belongs beside pacf_durbin_levinson
# and shares its exactness ladder: lag covariances as exact N²-scaled
# DECIMAL(38,0)/HUGEINT integers, r_k = c_k/c_0 doubles from exact
# ints, and Q = N(N+2)·Σ round(r_k²/(N−k), 12) with the bounded sum
# decimal-exact. One moments pass + one lead() pass over the day
# spine.
_LB_LAGS = 4


@_q(
    "ljung_box_test",
    f"""
    WITH daily AS (
      SELECT CAST(o_orderdate AS DATE) AS d,
             CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS y
      FROM orders GROUP BY 1
    ),
    lagd AS (
      SELECT y,
             {", ".join(f"lead(y, {k}) OVER (ORDER BY d) AS y{k}" for k in range(1, _LB_LAGS + 1))}
      FROM daily
    ),
    mom AS (SELECT COUNT(*) AS n, SUM(CAST(y AS HUGEINT)) AS s FROM daily),
    cov AS (
      SELECT m.n,
        SUM((CAST(m.n AS HUGEINT) * l.y - m.s)
            * (CAST(m.n AS HUGEINT) * l.y - m.s)) AS c0,
        {", ".join(
            f'''SUM(CASE WHEN l.y{k} IS NOT NULL
            THEN (CAST(m.n AS HUGEINT) * l.y - m.s)
                 * (CAST(m.n AS HUGEINT) * l.y{k} - m.s) END) AS c{k}'''
            for k in range(1, _LB_LAGS + 1))}
      FROM lagd l CROSS JOIN mom m GROUP BY m.n
    )
    SELECT CAST(n AS BIGINT) AS n_days,
           round(n * (n + 2.0)
                 * ({" + ".join(
                     f'''round(POWER(CAST(c{k} AS DOUBLE)
                           / CAST(c0 AS DOUBLE), 2) / (n - {k}), 12)'''
                     for k in range(1, _LB_LAGS + 1))}), 6)
             AS ljung_box_q
    FROM cov
    """,
)
def q_ljung_box_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = t(spark, sf_dir, "orders")
    daily = o.groupBy(F.col("o_orderdate").cast("date").alias("d")).agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint"))
        .cast("bigint")
        .alias("y")
    )
    w = Window.orderBy("d")
    lagd = daily.select(
        "y",
        *[F.lead("y", k).over(w).alias(f"y{k}") for k in range(1, _LB_LAGS + 1)],
    )
    mrow = daily.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("y").cast("decimal(38,0)")).alias("s"),
    ).collect()[0]
    n, s = int(mrow["n"]), int(mrow["s"])
    dev = lambda c: F.lit(n).cast("decimal(38,0)") * F.col(c) - F.lit(s).cast(
        "decimal(38,0)"
    )
    cov = lagd.agg(
        F.sum(dev("y") * dev("y")).alias("c0"),
        *[
            F.sum(
                F.when(F.col(f"y{k}").isNotNull(), dev("y") * dev(f"y{k}"))
            ).alias(f"c{k}")
            for k in range(1, _LB_LAGS + 1)
        ],
    )
    # the 4 rounded terms sum as DOUBLES in fixed left-assoc order on
    # BOTH engines — identical inputs + identical order = identical
    # sum. (A DECIMAL(38,12) sum is NOT the seam here: Spark's decimal
    # ADDITION caps precision at 38 by cascading scale reductions
    # (38,12)+(38,12) -> (38,11) -> ..., silently re-rounding each
    # partial — measured 4e-10 drift vs DuckDB's scale-preserving
    # decimal add. The decimal-sum pattern is only order-safe when the
    # addends KEEP their scale.)
    terms = None
    for k in range(1, _LB_LAGS + 1):
        tk = F.round(
            F.pow(
                F.col(f"c{k}").cast("double") / F.col("c0").cast("double"),
                2,
            )
            / (n - k),
            12,
        )
        terms = tk if terms is None else terms + tk
    return cov.select(
        F.lit(n).cast("bigint").alias("n_days"),
        F.round(
            F.lit(float(n)) * (n + 2.0) * terms, 6
        ).alias("ljung_box_q"),
    )


# ---------------------------------------------------------------------------
# Mann-Kendall trend test (Mann 1945; Kendall's tau against time) on
# the daily revenue series. The date spine is BOUNDED by the fixture's
# ~7-year order calendar (constant in SF), so the pairwise self-join
# is a fixed ~2.9M-pair job at any scale — the aggregation to the
# spine happens first, which is what makes this 100TB-sane. S, the
# tie terms, and var18 = n(n-1)(2n+5) - sum t(t-1)(2t+5) stay exact
# BIGINTs; tau_b and z are assembled in one fixed-order float
# expression each (products < 2^53 remain exact in double).
@_q(
    "mann_kendall_trend",
    """
    WITH daily AS (
      SELECT o_orderdate AS d,
             SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS rev
      FROM orders GROUP BY 1
    ),
    pairs AS (
      SELECT SUM(CASE WHEN b.rev > a.rev THEN 1
                      WHEN b.rev < a.rev THEN -1 ELSE 0 END) AS s
      FROM daily a JOIN daily b ON b.d > a.d
    ),
    nn AS (SELECT COUNT(*) AS n FROM daily),
    ties AS (
      SELECT COALESCE(SUM(t * (t - 1) / 2), 0) AS ty2,
             COALESCE(SUM(t * (t - 1) * (2 * t + 5)), 0) AS tyv
      FROM (SELECT COUNT(*) AS t FROM daily GROUP BY rev HAVING COUNT(*) > 1)
    )
    SELECT CAST(n AS BIGINT) AS n_days,
           CAST(s AS BIGINT) AS s_statistic,
           round(CAST(s AS DOUBLE)
                 / sqrt(CAST(n * (n - 1) / 2 AS DOUBLE)
                        * CAST(n * (n - 1) / 2 - ty2 AS DOUBLE)), 9) AS tau_b,
           round((CAST(s AS DOUBLE) - CASE WHEN s > 0 THEN 1
                                           WHEN s < 0 THEN -1 ELSE 0 END)
                 / sqrt(CAST(n * (n - 1) * (2 * n + 5) - tyv AS DOUBLE)
                        / 18.0), 9) AS z_score
    FROM pairs, nn, ties
    """,
)
def q_mann_kendall_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    daily = (
        t(spark, sf_dir, "orders")
        .groupBy(F.col("o_orderdate").alias("d"))
        .agg(F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("rev"))
        .localCheckpoint(eager=True)  # read by pairs + ties + count
    )
    a = daily.select(F.col("d").alias("da"), F.col("rev").alias("ra"))
    b = daily.select(F.col("d").alias("db"), F.col("rev").alias("rb"))
    pairs = (
        a.join(b, F.col("db") > F.col("da"))
        .agg(
            F.sum(
                F.when(F.col("rb") > F.col("ra"), 1)
                .when(F.col("rb") < F.col("ra"), -1)
                .otherwise(0)
            ).alias("s")
        )
    )
    nn = daily.agg(F.count(F.lit(1)).alias("n"))
    ties = (
        daily.groupBy("rev")
        .agg(F.count(F.lit(1)).alias("t"))
        .where(F.col("t") > 1)
        .agg(
            F.coalesce(F.sum(F.col("t") * (F.col("t") - 1) / 2), F.lit(0)).alias(
                "ty2"
            ),
            F.coalesce(
                F.sum(F.col("t") * (F.col("t") - 1) * (2 * F.col("t") + 5)),
                F.lit(0),
            ).alias("tyv"),
        )
    )
    n, s = F.col("n"), F.col("s")
    half = (n * (n - 1) / 2).cast("double")
    tau_b = s.cast("double") / F.sqrt(
        half * (n * (n - 1) / 2 - F.col("ty2")).cast("double")
    )
    z = (
        s.cast("double")
        - F.when(s > 0, 1).when(s < 0, -1).otherwise(0)
    ) / F.sqrt((n * (n - 1) * (2 * n + 5) - F.col("tyv")).cast("double") / 18.0)
    return (
        pairs.crossJoin(F.broadcast(nn))
        .crossJoin(F.broadcast(ties))
        .select(
            n.cast("bigint").alias("n_days"),
            s.cast("bigint").alias("s_statistic"),
            F.round(tau_b, 9).alias("tau_b"),
            F.round(z, 9).alias("z_score"),
        )
    )


# ---------------------------------------------------------------------------
# Durbin-Watson autocorrelation statistic (Durbin & Watson 1950) of
# the OLS residuals from the daily-revenue-on-time regression — the
# residual-whiteness check beside ljung_box_test (DW targets lag-1
# specifically, the classic regression diagnostic). The slope and
# intercept come from exact DECIMAL sufficient statistics over the
# BOUNDED daily spine (day index = exact date_diff from the broadcast
# min date); residuals re-synchronize at round(6) before the lag
# window, so both engines feed identical values into the final two
# sums (whose ~2400-term double accumulation noise sits ~8 orders
# below the round(6) report).
@_q(
    "durbin_watson_daily",
    """
    WITH daily AS (
      SELECT o_orderdate AS dte,
             SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS rev
      FROM orders GROUP BY 1
    ),
    base AS (SELECT MIN(dte) AS d0 FROM daily),
    pts AS (
      SELECT CAST(date_diff('day', base.d0, daily.dte) AS BIGINT) AS x,
             rev
      FROM daily, base
    ),
    s AS (
      SELECT COUNT(*) AS n,
             CAST(SUM(x) AS DECIMAL(38,0)) AS sx,
             CAST(SUM(x * x) AS DECIMAL(38,0)) AS sxx,
             CAST(SUM(rev) AS DECIMAL(38,2)) AS sy,
             CAST(SUM(x * rev) AS DECIMAL(38,2)) AS sxy
      FROM pts
    ),
    fit AS (
      SELECT n,
             CAST(n * sxy - sx * sy AS DOUBLE)
               / CAST(n * sxx - sx * sx AS DOUBLE) AS b,
             (CAST(sy AS DOUBLE) - CAST(n * sxy - sx * sy AS DOUBLE)
                / CAST(n * sxx - sx * sx AS DOUBLE) * CAST(sx AS DOUBLE)) / n
               AS a
      FROM s
    ),
    resid AS (
      SELECT x,
             round(CAST(rev AS DOUBLE) - fit.a - fit.b * x, 6) AS e
      FROM pts, fit
    ),
    lagd AS (
      SELECT e, lag(e) OVER (ORDER BY x) AS ep FROM resid
    )
    SELECT CAST((SELECT n FROM s) AS BIGINT) AS n_days,
           round((SELECT b FROM fit), 9) AS slope,
           round(SUM(CASE WHEN ep IS NULL THEN 0.0
                          ELSE (e - ep) * (e - ep) END)
                 / SUM(e * e), 6) AS durbin_watson
    FROM lagd
    """,
)
def q_durbin_watson_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    daily = (
        t(spark, sf_dir, "orders")
        .groupBy(F.col("o_orderdate").alias("dte"))
        .agg(F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("rev"))
    )
    base = daily.agg(F.min("dte").alias("d0"))
    # NOT checkpointed: the lag window below must trace to the daily
    # Aggregate so the global-window auditor can classify it as
    # spine-bounded (a checkpoint here turns the lineage opaque and
    # the audit flags the window); the duplicate agg pass is one
    # cheap scan of the bounded spine
    pts = daily.crossJoin(F.broadcast(base)).select(
        F.datediff(F.col("dte"), F.col("d0")).cast("bigint").alias("x"),
        "rev",
    )
    s = pts.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").cast("decimal(38,0)").alias("sx"),
        F.sum(F.col("x") * F.col("x")).cast("decimal(38,0)").alias("sxx"),
        F.sum("rev").cast("decimal(38,2)").alias("sy"),
        F.sum(F.col("x") * F.col("rev")).cast("decimal(38,2)").alias("sxy"),
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    b = (n * F.col("sxy") - sx * sy).cast("double") / (
        n * F.col("sxx") - sx * sx
    ).cast("double")
    fit = s.select(
        "n",
        b.alias("b"),
        ((sy.cast("double") - b * sx.cast("double")) / n).alias("a"),
    )
    resid = pts.crossJoin(F.broadcast(fit)).select(
        "x",
        "n",
        "b",
        F.round(
            F.col("rev").cast("double") - F.col("a") - F.col("b") * F.col("x"),
            6,
        ).alias("e"),
    )
    w = Window.orderBy("x")
    lagd = resid.select(
        "n", "b", "e", F.lag("e").over(w).alias("ep")
    )
    return lagd.groupBy("n", "b").agg(
        F.col("n").cast("bigint").alias("n_days"),
        F.round(F.col("b"), 9).alias("slope"),
        F.round(
            F.sum(
                F.when(F.col("ep").isNull(), F.lit(0.0)).otherwise(
                    (F.col("e") - F.col("ep")) * (F.col("e") - F.col("ep"))
                )
            )
            / F.sum(F.col("e") * F.col("e")),
            6,
        ).alias("durbin_watson"),
    ).select("n_days", "slope", "durbin_watson")


# ---------------------------------------------------------------------------
# Wald-Wolfowitz runs test (1940) for randomness of the daily revenue
# sign sequence (above/below the exact decimal mean): too FEW runs =
# positive serial dependence (trending), too many = oscillation. Runs
# and both sign counts are exact integers off one lag pass over the
# bounded daily spine; the normal-approximation z is one fixed-order
# float expression.
@_q(
    "runs_test_daily",
    """
    WITH daily AS (
      SELECT o_orderdate AS dte,
             SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS rev
      FROM orders GROUP BY 1
    ),
    m AS (
      SELECT CAST(SUM(rev) AS DECIMAL(38,2)) AS s, COUNT(*) AS n FROM daily
    ),
    signs AS (
      SELECT dte,
             CASE WHEN CAST(rev AS DOUBLE) * m.n > CAST(m.s AS DOUBLE)
                  THEN 1 ELSE 0 END AS above
      FROM daily, m
    ),
    runs AS (
      SELECT above,
             CASE WHEN lag(above) OVER (ORDER BY dte) IS NULL THEN 1
                  WHEN lag(above) OVER (ORDER BY dte) <> above THEN 1
                  ELSE 0 END AS brk
      FROM signs
    ),
    agg AS (
      SELECT SUM(brk) AS r,
             SUM(above) AS n1,
             SUM(1 - above) AS n2
      FROM runs
    )
    SELECT CAST(r AS BIGINT) AS n_runs,
           CAST(n1 AS BIGINT) AS n_above, CAST(n2 AS BIGINT) AS n_below,
           round((CAST(r AS DOUBLE)
                  - (2.0 * n1 * n2 / (n1 + n2) + 1))
                 / sqrt(2.0 * n1 * n2 * (2.0 * n1 * n2 - n1 - n2)
                        / (CAST((n1 + n2) AS DOUBLE) * (n1 + n2)
                           * (n1 + n2 - 1))), 9) AS z_score
    FROM agg
    """,
)
def q_runs_test_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    daily = (
        t(spark, sf_dir, "orders")
        .groupBy(F.col("o_orderdate").alias("dte"))
        .agg(F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("rev"))
    )
    m = daily.agg(
        F.sum("rev").cast("decimal(38,2)").alias("s"),
        F.count(F.lit(1)).alias("n"),
    )
    signs = daily.crossJoin(F.broadcast(m)).select(
        "dte",
        F.when(
            F.col("rev").cast("double") * F.col("n")
            > F.col("s").cast("double"),
            1,
        )
        .otherwise(0)
        .alias("above"),
    )
    w = Window.orderBy("dte")
    runs = signs.select(
        "above",
        F.when(F.lag("above").over(w).isNull(), 1)
        .when(F.lag("above").over(w) != F.col("above"), 1)
        .otherwise(0)
        .alias("brk"),
    )
    agg = runs.agg(
        F.sum("brk").alias("r"),
        F.sum("above").alias("n1"),
        F.sum(1 - F.col("above")).alias("n2"),
    )
    r, n1, n2 = F.col("r"), F.col("n1"), F.col("n2")
    mu = 2.0 * n1 * n2 / (n1 + n2) + 1
    var = (
        2.0
        * n1
        * n2
        * (2.0 * n1 * n2 - n1 - n2)
        / ((n1 + n2).cast("double") * (n1 + n2) * (n1 + n2 - 1))
    )
    return agg.select(
        r.cast("bigint").alias("n_runs"),
        n1.cast("bigint").alias("n_above"),
        n2.cast("bigint").alias("n_below"),
        F.round((r.cast("double") - mu) / F.sqrt(var), 9).alias("z_score"),
    )


# ---------------------------------------------------------------------------
# Breusch-Pagan heteroskedasticity test (Breusch & Pagan 1979,
# Koenker's studentized LM form: n*R^2 of the e^2-on-x auxiliary
# regression) over the same daily-revenue OLS as durbin_watson_daily
# — together they are the two standard residual diagnostics. The fit
# comes from exact DECIMAL sufficient statistics; residuals
# re-synchronize at round(6) so g = e^2 is the identical double on
# both engines; the auxiliary R^2's ~2400-term double sums carry
# order noise ~8 orders below the round(6) report.
@_q(
    "breusch_pagan_test",
    """
    WITH daily AS (
      SELECT o_orderdate AS dte,
             SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS rev
      FROM orders GROUP BY 1
    ),
    base AS (SELECT MIN(dte) AS d0 FROM daily),
    pts AS (
      SELECT CAST(date_diff('day', base.d0, daily.dte) AS BIGINT) AS x, rev
      FROM daily, base
    ),
    s AS (
      SELECT COUNT(*) AS n,
             CAST(SUM(x) AS DECIMAL(38,0)) AS sx,
             CAST(SUM(x * x) AS DECIMAL(38,0)) AS sxx,
             CAST(SUM(rev) AS DECIMAL(38,2)) AS sy,
             CAST(SUM(x * rev) AS DECIMAL(38,2)) AS sxy
      FROM pts
    ),
    fit AS (
      SELECT n, sx, sxx,
             CAST(n * sxy - sx * sy AS DOUBLE)
               / CAST(n * sxx - sx * sx AS DOUBLE) AS b,
             (CAST(sy AS DOUBLE) - CAST(n * sxy - sx * sy AS DOUBLE)
                / CAST(n * sxx - sx * sx AS DOUBLE) * CAST(sx AS DOUBLE)) / n
               AS a
      FROM s
    ),
    g AS (
      SELECT x,
             round(CAST(rev AS DOUBLE) - fit.a - fit.b * x, 6)
             * round(CAST(rev AS DOUBLE) - fit.a - fit.b * x, 6) AS gg
      FROM pts, fit
    ),
    aux AS (
      SELECT COUNT(*) AS n, SUM(gg) AS sg, SUM(gg * gg) AS sgg,
             SUM(x * gg) AS sgx,
             CAST(SUM(x) AS DOUBLE) AS sx, CAST(SUM(x * x) AS DOUBLE) AS sxx
      FROM g
    )
    SELECT CAST(n AS BIGINT) AS n_days,
           round(n * ((n * sgx - sx * sg) * (n * sgx - sx * sg))
                 / ((n * sxx - sx * sx) * (n * sgg - sg * sg)), 6)
             AS bp_lm_statistic
    FROM aux
    """,
)
def q_breusch_pagan_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    daily = (
        t(spark, sf_dir, "orders")
        .groupBy(F.col("o_orderdate").alias("dte"))
        .agg(F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("rev"))
    )
    base = daily.agg(F.min("dte").alias("d0"))
    pts = daily.crossJoin(F.broadcast(base)).select(
        F.datediff(F.col("dte"), F.col("d0")).cast("bigint").alias("x"),
        "rev",
    ).localCheckpoint(eager=True)
    s = pts.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").cast("decimal(38,0)").alias("sx"),
        F.sum(F.col("x") * F.col("x")).cast("decimal(38,0)").alias("sxx"),
        F.sum("rev").cast("decimal(38,2)").alias("sy"),
        F.sum(F.col("x") * F.col("rev")).cast("decimal(38,2)").alias("sxy"),
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    b = (n * F.col("sxy") - sx * sy).cast("double") / (
        n * F.col("sxx") - sx * sx
    ).cast("double")
    fit = s.select(
        b.alias("b"),
        ((sy.cast("double") - b * sx.cast("double")) / n).alias("a"),
    )
    e = F.round(
        F.col("rev").cast("double") - F.col("a") - F.col("b") * F.col("x"), 6
    )
    g = pts.crossJoin(F.broadcast(fit)).select("x", (e * e).alias("gg"))
    aux = g.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("gg").alias("sg"),
        F.sum(F.col("gg") * F.col("gg")).alias("sgg"),
        F.sum(F.col("x") * F.col("gg")).alias("sgx"),
        F.sum("x").cast("double").alias("sx"),
        F.sum(F.col("x") * F.col("x")).cast("double").alias("sxx"),
    )
    n2, sg, sgx = F.col("n"), F.col("sg"), F.col("sgx")
    num = (n2 * sgx - F.col("sx") * sg) * (n2 * sgx - F.col("sx") * sg)
    den = (n2 * F.col("sxx") - F.col("sx") * F.col("sx")) * (
        n2 * F.col("sgg") - sg * sg
    )
    return aux.select(
        n2.cast("bigint").alias("n_days"),
        F.round(n2 * num / den, 6).alias("bp_lm_statistic"),
    )


# ---------------------------------------------------------------------------
# Dynamic Time Warping distance from every user's value profile (first
# 16 event values, cents lattice) to a reference profile (the min-
# user_id journey) — the elastic-alignment similarity that plain
# Euclidean windows can't express (Sakoe & Chiba, IEEE TASSP 1978).
# The DP runs ENTIRELY in Catalyst as a nested higher-order fold:
# outer F.aggregate over the user series carries the DP row, the
# inner F.aggregate rebuilds the next row left-to-right (the
# row[j-1] dependency is exactly a fold) — no Python, no UDF, one
# shuffle to assemble bounded 16-element series. Costs are |a-b| on
# the integer cents lattice, so every cell is exact. The oracle walks
# the identical recurrence as a recursive CTE whose accumulator list
# is rebuilt per row with list_reduce — same DP, different engine
# idiom. 100 TB: per-user state is one 16-int array; the reference
# profile is a broadcast scalar; cost is linear in users.
_DTW_LEN = 16
_DTW_INF = 1 << 40


def _sql_dtw() -> str:
    return f"""
    WITH RECURSIVE ranked AS (
      SELECT user_id,
             CAST(round(value * 100) AS BIGINT) AS v,
             row_number() OVER (PARTITION BY user_id ORDER BY event_id) AS rn
      FROM events
    ),
    ser AS MATERIALIZED (
      SELECT user_id, list(v ORDER BY rn) AS s
      FROM ranked WHERE rn <= {_DTW_LEN} GROUP BY user_id
    ),
    ref AS (SELECT s AS r FROM ser
            WHERE user_id = (SELECT min(user_id) FROM ser)),
    dp AS (
      SELECT user_id, 1 AS i, s, r,
             list_reduce(
               [[]] || list_transform(r, e -> [e]),
               (acc, it) -> list_append(acc,
                 abs(s[1] - r[len(acc) + 1])
                 + CASE WHEN len(acc) = 0 THEN 0 ELSE acc[-1] END)
             ) AS row
      FROM ser CROSS JOIN ref
      UNION ALL
      SELECT user_id, i + 1, s, r,
             list_reduce(
               [[]] || list_transform(r, e -> [e]),
               (acc, it) -> list_append(acc,
                 abs(s[i + 1] - r[len(acc) + 1])
                 + least(row[len(acc) + 1],
                         CASE WHEN len(acc) = 0 THEN {_DTW_INF}
                              ELSE least(row[len(acc)], acc[-1]) END))
             ) AS row
      FROM dp WHERE i < len(s)
    )
    SELECT CAST(user_id AS BIGINT) AS user_id,
           CAST(len(s) AS BIGINT) AS n_points,
           CAST(row[-1] AS BIGINT) AS dtw_cents
    FROM dp WHERE i = len(s)
    ORDER BY dtw_cents, user_id LIMIT 20
    """


@_q("dtw_profile_distance", _sql_dtw())
def q_dtw_profile_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("event_id")
    ranked = ev.select(
        "user_id",
        F.round(F.col("value") * 100).cast("bigint").alias("v"),
        F.row_number().over(w).alias("rn"),
    ).where(F.col("rn") <= _DTW_LEN)
    ser = ranked.groupBy("user_id").agg(
        F.transform(
            F.sort_array(F.collect_list(F.struct("rn", "v"))), lambda s: s["v"]
        ).alias("s")
    )
    ref = (
        ser.orderBy("user_id")
        .limit(1)
        .select(F.col("s").alias("r"))
    )

    empty = F.expr("array()").cast("array<bigint>")

    def _base(x1, r):
        return F.aggregate(
            r,
            empty,
            lambda acc, _e: F.concat(
                acc,
                F.array(
                    F.abs(x1 - F.element_at(r, (F.size(acc) + 1).cast("int")))
                    + F.when(F.size(acc) == 0, F.lit(0).cast("bigint")).otherwise(
                        F.element_at(acc, -1)
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
                    F.abs(xv - F.element_at(r, (F.size(acc) + 1).cast("int")))
                    + F.least(
                        F.element_at(p, (F.size(acc) + 1).cast("int")),
                        F.when(
                            F.size(acc) == 0, F.lit(_DTW_INF).cast("bigint")
                        ).otherwise(
                            F.least(
                                F.element_at(p, F.size(acc).cast("int")),
                                F.element_at(acc, -1),
                            )
                        ),
                    )
                ),
            ),
        )

    s, r = F.col("s"), F.col("r")
    dtw = F.element_at(
        F.aggregate(
            F.slice(s, 2, F.greatest(F.size(s) - 1, F.lit(0))),
            _base(F.element_at(s, 1), r),
            lambda row, xv: _step(row, xv, r),
        ),
        -1,
    )
    return (
        ser.crossJoin(F.broadcast(ref))
        .select(
            F.col("user_id").cast("bigint").alias("user_id"),
            F.size("s").cast("bigint").alias("n_points"),
            dtw.cast("bigint").alias("dtw_cents"),
        )
        .orderBy("dtw_cents", "user_id")
        .limit(20)
    )


# ---------------------------------------------------------------------------
# Longest-common-subsequence alignment of each user's event-type
# journey (first 12 events) against the canonical conversion funnel —
# "how much of the signup->purchase script does each user actually
# follow, in order, ignoring noise events". Same nested-fold DP
# engine as dtw_profile_distance with the LCS recurrence (match ->
# diagonal + 1, else max(up, left)); the virtual zero row makes the
# boundary uniform so ONE fold shape covers every cell. Output is the
# alignment-length histogram. All-integer, exact; linear in users.
_LCS_LEN = 12
_LCS_FUNNEL = ("signup", "view", "click", "view", "click", "purchase")


def _sql_lcs() -> str:
    pat = ", ".join(f"'{p}'" for p in _LCS_FUNNEL)
    return f"""
    WITH RECURSIVE ranked AS (
      SELECT user_id, event_type AS v,
             row_number() OVER (PARTITION BY user_id ORDER BY event_id) AS rn
      FROM events
    ),
    ser AS MATERIALIZED (
      SELECT user_id, list(v ORDER BY rn) AS s, [{pat}] AS r
      FROM ranked WHERE rn <= {_LCS_LEN} GROUP BY user_id
    ),
    dp AS (
      SELECT user_id, 0 AS i, s, r,
             list_transform(r, e -> 0) AS row
      FROM ser
      UNION ALL
      SELECT user_id, i + 1, s, r,
             list_reduce(
               [[]] || list_transform(generate_series(1, len(r)), j -> [j]),
               (acc, it) -> list_append(acc,
                 CASE WHEN s[i + 1] = r[len(acc) + 1]
                      THEN (CASE WHEN len(acc) = 0 THEN 0
                                 ELSE row[len(acc)] END) + 1
                      ELSE greatest(row[len(acc) + 1],
                                    CASE WHEN len(acc) = 0 THEN 0
                                         ELSE acc[-1] END)
                 END)
             ) AS row
      FROM dp WHERE i < len(s)
    )
    SELECT CAST(row[-1] AS BIGINT) AS lcs_len,
           CAST(COUNT(*) AS BIGINT) AS n_users
    FROM dp WHERE i = len(s)
    GROUP BY lcs_len ORDER BY lcs_len
    """


@_q("lcs_funnel_alignment", _sql_lcs())
def q_lcs_funnel_alignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("event_id")
    ranked = ev.select(
        "user_id",
        F.col("event_type").alias("v"),
        F.row_number().over(w).alias("rn"),
    ).where(F.col("rn") <= _LCS_LEN)
    ser = ranked.groupBy("user_id").agg(
        F.transform(
            F.sort_array(F.collect_list(F.struct("rn", "v"))), lambda s: s["v"]
        ).alias("s")
    )
    r = F.array(*[F.lit(p) for p in _LCS_FUNNEL])

    empty = F.expr("array()").cast("array<bigint>")

    def _step(p, xv):
        return F.aggregate(
            r,
            empty,
            lambda acc, _e: F.concat(
                acc,
                F.array(
                    F.when(
                        xv == F.element_at(r, (F.size(acc) + 1).cast("int")),
                        F.when(F.size(acc) == 0, F.lit(0).cast("bigint")).otherwise(
                            F.element_at(p, F.size(acc).cast("int"))
                        )
                        + 1,
                    ).otherwise(
                        F.greatest(
                            F.element_at(p, (F.size(acc) + 1).cast("int")),
                            F.when(
                                F.size(acc) == 0, F.lit(0).cast("bigint")
                            ).otherwise(F.element_at(acc, -1)),
                        )
                    )
                ),
            ),
        )

    s = F.col("s")
    zero_row = F.transform(r, lambda _e: F.lit(0).cast("bigint"))
    lcs = F.element_at(
        F.aggregate(s, zero_row, lambda row, xv: _step(row, xv)), -1
    )
    return (
        ser.select(lcs.cast("bigint").alias("lcs_len"))
        .groupBy("lcs_len")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_users"))
        .orderBy("lcs_len")
    )


# ---------------------------------------------------------------------------
# Weighted interval scheduling — per user, the maximum-value set of
# non-overlapping activity intervals (interval = [ts, ts + value
# minutes + 1s] — the +1s keeps every duration strictly positive so
# no interval can satisfy its own end<=start predicate; value in
# cents is the weight; first 24 events bound the per-key state). The textbook DP over end-sorted intervals:
# dp[i] = max(dp[i-1], v_i + dp[p_i]) where p_i = #intervals ending
# <= start_i — p comes from a BOUNDED per-user self-join (24^2 rows),
# the DP itself is one Catalyst fold per user carrying the dp list.
# Everything integer microseconds/cents — exact; the final dp value
# is invariant to equal-end ordering (max absorbs both branches), so
# ties can't flap the answer. 100 TB: linear in users, no global
# state; the per-user cap is the same bounded-sequential-DP
# discipline as the Holt-Winters spine.
_WIS_CAP = 24


def _sql_wis() -> str:
    return f"""
    WITH ranked AS (
      SELECT user_id,
             epoch_us(ts) AS s,
             epoch_us(ts)
               + (CAST(round(value * 60) AS BIGINT) + 1) * 1000000 AS e,
             CAST(round(value * 100) AS BIGINT) AS v,
             row_number() OVER (PARTITION BY user_id ORDER BY event_id) AS rn
      FROM events
    ),
    iv AS MATERIALIZED (
      SELECT user_id, s, e, v, rn FROM ranked WHERE rn <= {_WIS_CAP}
    ),
    withp AS (
      SELECT a.user_id, a.s, a.e, a.v,
             CAST(COALESCE(SUM(CASE WHEN b.e <= a.s THEN 1 END), 0) AS BIGINT)
               AS p
      FROM iv a LEFT JOIN iv b ON b.user_id = a.user_id
      GROUP BY a.user_id, a.s, a.e, a.v, a.rn
    ),
    folded AS (
      SELECT user_id,
             list({{'e': e, 's': s, 'v': v, 'p': p}}
                  ORDER BY e, s, v) AS items
      FROM withp GROUP BY user_id
    ),
    best AS (
      SELECT user_id, len(items) AS n_intervals,
             list_reduce(
               [[CAST(0 AS BIGINT)]]
                 || list_transform(generate_series(1, len(items)),
                                   j -> [CAST(j AS BIGINT)]),
               (acc, it) -> list_append(acc,
                 greatest(acc[-1],
                          items[len(acc)].v
                            + acc[items[len(acc)].p + 1]))
             )[-1] AS best_cents
      FROM folded
    )
    SELECT CAST(user_id AS BIGINT) AS user_id,
           CAST(n_intervals AS BIGINT) AS n_intervals,
           CAST(best_cents AS BIGINT) AS best_cents
    FROM best ORDER BY best_cents DESC, user_id LIMIT 20
    """


@_q("weighted_interval_scheduling", _sql_wis())
def q_weighted_interval_scheduling(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("event_id")
    s = F.unix_micros(F.col("ts"))
    iv = (
        ev.select(
            "user_id",
            s.alias("s"),
            (
                s
                + (F.round(F.col("value") * 60).cast("bigint") + 1) * 1000000
            ).alias("e"),
            F.round(F.col("value") * 100).cast("bigint").alias("v"),
            F.row_number().over(w).alias("rn"),
        )
        .where(F.col("rn") <= _WIS_CAP)
    )
    b = iv.select(
        F.col("user_id").alias("bu"), F.col("e").alias("be")
    )
    withp = (
        iv.join(b, (F.col("bu") == F.col("user_id")), "left")
        .groupBy("user_id", "s", "e", "v", "rn")
        .agg(
            F.coalesce(
                F.sum(F.when(F.col("be") <= F.col("s"), 1)), F.lit(0)
            )
            .cast("bigint")
            .alias("p")
        )
        .drop("rn")
    )
    folded = withp.groupBy("user_id").agg(
        F.sort_array(F.collect_list(F.struct("e", "s", "v", "p"))).alias("items")
    )
    items = F.col("items")
    init = F.array(F.lit(0).cast("bigint"))
    dp = F.aggregate(
        items,
        init,
        lambda acc, _it: F.concat(
            acc,
            F.array(
                F.greatest(
                    F.element_at(acc, -1),
                    F.element_at(items, F.size(acc).cast("int"))["v"]
                    + F.element_at(
                        acc,
                        (
                            F.element_at(items, F.size(acc).cast("int"))["p"] + 1
                        ).cast("int"),
                    ),
                )
            ),
        ),
    )
    return (
        folded.select(
            F.col("user_id").cast("bigint").alias("user_id"),
            F.size("items").cast("bigint").alias("n_intervals"),
            F.element_at(dp, -1).cast("bigint").alias("best_cents"),
        )
        .orderBy(F.desc("best_cents"), "user_id")
        .limit(20)
    )


# ---------------------------------------------------------------------------
# Cross-correlation lag census between the hourly click and purchase
# count series — "at what lead does click volume line up with
# purchase volume" — computed as the RAW integer cross-correlation
# R(L) = sum_h c_h * p_(h+L) for L in [-24, +24] hours: all-integer,
# so bit-exactness is structural. The plan is a BOUNDED range join
# (each click hour meets at most 49 purchase hours; hours are a
# fixed calendar spine, not row volume), then one groupBy lag. The
# argmax lag ships in-row via one window. 100 TB: hourly rollups
# first (the only row-volume pass), the lag join touches spine-sized
# data.
_XCORR_MAX_LAG = 24


@_q(
    "cross_correlation_lag",
    f"""
    WITH c AS (
      SELECT CAST(floor(epoch_us(ts) / 3600000000) AS BIGINT) AS h,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM events WHERE event_type = 'click' GROUP BY 1
    ),
    p AS (
      SELECT CAST(floor(epoch_us(ts) / 3600000000) AS BIGINT) AS h,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM events WHERE event_type = 'purchase' GROUP BY 1
    ),
    r AS (
      SELECT p.h - c.h AS lag, CAST(SUM(c.n * p.n) AS BIGINT) AS xcorr
      FROM c JOIN p ON p.h BETWEEN c.h - {_XCORR_MAX_LAG}
                             AND c.h + {_XCORR_MAX_LAG}
      GROUP BY p.h - c.h
    )
    SELECT CAST(lag AS BIGINT) AS lag, xcorr,
           CAST(CASE WHEN lag = (SELECT lag FROM r
                                 ORDER BY xcorr DESC, lag LIMIT 1)
                THEN 1 ELSE 0 END AS BIGINT) AS is_peak
    FROM r ORDER BY lag
    """,
)
def q_cross_correlation_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events")
    hour = F.floor(F.unix_micros(F.col("ts")) / 3600000000).cast("bigint")
    c = (
        ev.where(F.col("event_type") == "click")
        .groupBy(hour.alias("ch"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("cn"))
    )
    p = (
        ev.where(F.col("event_type") == "purchase")
        .groupBy(hour.alias("ph"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("pn"))
    )
    r = (
        c.join(
            p,
            (F.col("ph") >= F.col("ch") - _XCORR_MAX_LAG)
            & (F.col("ph") <= F.col("ch") + _XCORR_MAX_LAG),
        )
        .groupBy((F.col("ph") - F.col("ch")).alias("lag"))
        .agg(F.sum(F.col("cn") * F.col("pn")).cast("bigint").alias("xcorr"))
    )
    w = Window.orderBy(F.desc("xcorr"), F.asc("lag"))
    return (
        r.withColumn(
            "is_peak",
            F.when(F.row_number().over(w) == 1, F.lit(1))
            .otherwise(F.lit(0))
            .cast("bigint"),
        )
        .select(F.col("lag").cast("bigint").alias("lag"), "xcorr", "is_peak")
        .orderBy("lag")
    )


# ---------------------------------------------------------------------------
# Haar wavelet energy decomposition of the daily revenue signal —
# the multi-resolution screen ("is variance at the day, 2-day or
# 4-day scale?") that picks the right smoothing window before any
# seasonal model. UNNORMALIZED integer Haar on cents: level k pairs
# adjacent approximations, approx = a+b, detail = a-b, energy_k =
# sum(detail^2) — every coefficient stays an exact integer (the 1/2
# scale factors are absorbed into the per-level energies; the final
# energy is one exact-decimal -> double cast, identical both
# engines), missing calendar days enter as 0 via the dense day
# index. Three levels = three grouped aggregations over a spine-sized
# table; the row-volume pass is only the daily rollup. 100 TB: the
# signal length is calendar-bounded, so every level is broadcast-
# sized regardless of order volume.
_HAAR_LEVELS = 3


def _sql_haar() -> str:
    ctes = [
        """daily AS (
      SELECT CAST(date_diff('day', (SELECT min(o_orderdate) FROM orders),
                            o_orderdate) AS BIGINT) AS d,
             CAST(SUM(CAST(o_totalprice * 100 AS DECIMAL(38,0))) AS DECIMAL(38,0))
               AS cents
      FROM orders GROUP BY 1
    ),
    lvl0 AS (
      SELECT d AS i, cents AS a FROM daily
    )"""
    ]
    for k in range(1, _HAAR_LEVELS + 1):
        ctes.append(
            f"""lvl{k} AS (
      SELECT CAST(floor(i / 2) AS BIGINT) AS i,
             SUM(a) AS a,
             SUM(CASE WHEN i % 2 = 0 THEN a ELSE -a END) AS det
      FROM lvl{k - 1} GROUP BY 1
    )"""
        )
    sel = "\n    UNION ALL\n    ".join(
        f"""SELECT CAST({k} AS BIGINT) AS level,
           CAST(COUNT(*) AS BIGINT) AS n_coeffs,
           CAST(CAST(SUM(det * det) AS DECIMAL(38,0)) AS DOUBLE)
             AS detail_energy
    FROM lvl{k}"""
        for k in range(1, _HAAR_LEVELS + 1)
    )
    return (
        "WITH " + ",\n    ".join(ctes) + "\n    " + sel + "\n    ORDER BY level"
    )


@_q("haar_wavelet_energy", _sql_haar())
def q_haar_wavelet_energy(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = t(spark, sf_dir, "orders")
    dmin = orders.agg(F.min("o_orderdate").alias("dmin"))
    daily = (
        orders.crossJoin(F.broadcast(dmin))
        .groupBy(
            F.datediff(F.col("o_orderdate"), F.col("dmin"))
            .cast("bigint")
            .alias("i")
        )
        .agg(
            F.sum((F.col("o_totalprice") * 100).cast("decimal(38,0)"))
            .cast("decimal(38,0)")
            .alias("a")
        )
    )
    lvl = daily
    out = None
    for k in range(1, _HAAR_LEVELS + 1):
        nxt = lvl.groupBy(F.floor(F.col("i") / 2).cast("bigint").alias("i")).agg(
            F.sum("a").cast("decimal(38,0)").alias("a"),
            F.sum(
                F.when(F.col("i") % 2 == 0, F.col("a")).otherwise(-F.col("a"))
            )
            .cast("decimal(38,0)")
            .alias("det"),
        )
        stat = nxt.agg(
            F.lit(k).cast("bigint").alias("level"),
            F.count(F.lit(1)).cast("bigint").alias("n_coeffs"),
            F.sum(F.col("det") * F.col("det"))
            .cast("decimal(38,0)")
            .cast("double")
            .alias("detail_energy"),
        )
        out = stat if out is None else out.unionByName(stat)
        lvl = nxt.drop("det")
    return out.orderBy("level")


# ---------------------------------------------------------------------------
# Seasonal DFT power probe: the Fourier coefficients of the daily
# revenue signal at the candidate calendar periods (7/14/30 days) —
# the single-bin spectral test (Goertzel's use case) that answers
# "is there a weekly cycle" without materializing a full FFT. Per
# term x_d * cos/sin(2*pi*d/P) is rounded to the 1e-6 lattice and
# summed in DECIMAL (the chi2 lockstep pattern: transcendentals on
# bit-identical inputs, order-free accumulation), then amplitude =
# sqrt(C^2 + S^2)/n in one double expression. 100 TB: the only
# row-volume pass is the daily rollup; the spectral sum runs over a
# calendar-bounded spine x 3 periods.
_DFT_PERIODS = (7, 14, 30)


def _sql_dft() -> str:
    vals = ", ".join(f"({p})" for p in _DFT_PERIODS)
    return f"""
    WITH daily AS (
      SELECT CAST(date_diff('day', (SELECT min(o_orderdate) FROM orders),
                            o_orderdate) AS BIGINT) AS d,
             CAST(CAST(SUM(CAST(o_totalprice * 100 AS DECIMAL(38,0)))
                       AS DECIMAL(38,0)) AS DOUBLE) AS x
      FROM orders GROUP BY 1
    ),
    periods(p) AS (VALUES {vals}),
    terms AS (
      SELECT p,
             SUM(CAST(round(x * cos(2 * pi() * d / p), 6)
                      AS DECIMAL(38,6))) AS c,
             SUM(CAST(round(x * sin(2 * pi() * d / p), 6)
                      AS DECIMAL(38,6))) AS s,
             CAST(COUNT(*) AS BIGINT) AS n_days
      FROM daily CROSS JOIN periods
      GROUP BY p
    )
    SELECT CAST(p AS BIGINT) AS period, n_days,
           round(sqrt(CAST(c AS DOUBLE) * CAST(c AS DOUBLE)
                      + CAST(s AS DOUBLE) * CAST(s AS DOUBLE))
                 / n_days / 100, 6) AS amplitude_dollars
    FROM terms ORDER BY period
    """


@_q("dft_seasonal_power", _sql_dft())
def q_dft_seasonal_power(spark: SparkSession, sf_dir: str) -> DataFrame:
    import math

    orders = t(spark, sf_dir, "orders")
    dmin = orders.agg(F.min("o_orderdate").alias("dmin"))
    daily = (
        orders.crossJoin(F.broadcast(dmin))
        .groupBy(
            F.datediff(F.col("o_orderdate"), F.col("dmin"))
            .cast("bigint")
            .alias("d")
        )
        .agg(
            F.sum((F.col("o_totalprice") * 100).cast("decimal(38,0)"))
            .cast("decimal(38,0)")
            .cast("double")
            .alias("x")
        )
    )
    periods = daily.sparkSession.createDataFrame(
        [(p,) for p in _DFT_PERIODS], "p int"
    )
    ang = 2 * math.pi * F.col("d") / F.col("p")
    terms = (
        daily.crossJoin(F.broadcast(periods))
        .groupBy("p")
        .agg(
            F.sum(
                F.round(F.col("x") * F.cos(ang), 6).cast("decimal(38,6)")
            ).alias("c"),
            F.sum(
                F.round(F.col("x") * F.sin(ang), 6).cast("decimal(38,6)")
            ).alias("s"),
            F.count(F.lit(1)).cast("bigint").alias("n_days"),
        )
    )
    c, s = F.col("c").cast("double"), F.col("s").cast("double")
    return terms.select(
        F.col("p").cast("bigint").alias("period"),
        "n_days",
        F.round(F.sqrt(c * c + s * s) / F.col("n_days") / 100, 6).alias(
            "amplitude_dollars"
        ),
    ).orderBy("period")


# ---------------------------------------------------------------------------
# Longest strictly-increasing subsequence of each user's value
# journey (first 16 events, cents lattice) — the order-structure
# statistic behind trend persistence ("does this user's spend keep
# ratcheting?"), and the third member of the nested-fold DP family
# (DTW: elastic distance; LCS: script conformance; LIS: monotone
# structure). The fold carries (value, lis-ending-here) structs and
# scores each new element with filter -> transform -> array_max over
# the accumulator — the same higher-order trio in Catalyst and
# DuckDB, O(k^2) per user on a 16-capped series. Output: LIS-length
# histogram. All-integer, exact.
_LIS_LEN = 16


def _sql_lis() -> str:
    return f"""
    WITH ranked AS (
      SELECT user_id,
             CAST(round(value * 100) AS BIGINT) AS v,
             row_number() OVER (PARTITION BY user_id ORDER BY event_id) AS rn
      FROM events
    ),
    ser AS (
      SELECT user_id, list(v ORDER BY rn) AS s
      FROM ranked WHERE rn <= {_LIS_LEN} GROUP BY user_id
    ),
    scored AS (
      SELECT user_id,
             list_max(list_transform(
               list_reduce(
                 [CAST([] AS STRUCT(v BIGINT, l BIGINT)[])]
                   || list_transform(s,
                        e -> CAST([] AS STRUCT(v BIGINT, l BIGINT)[])),
                 (acc, it) -> list_append(acc,
                   {{'v': s[len(acc) + 1],
                     'l': COALESCE(list_max(list_transform(
                            list_filter(acc, e -> e.v < s[len(acc) + 1]),
                            e -> e.l)), 0) + 1}})
               ),
               e -> e.l)) AS lis
      FROM ser
    )
    SELECT CAST(lis AS BIGINT) AS lis_len,
           CAST(COUNT(*) AS BIGINT) AS n_users
    FROM scored GROUP BY lis ORDER BY lis_len
    """


@_q("lis_value_journey", _sql_lis())
def q_lis_value_journey(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("event_id")
    ranked = ev.select(
        "user_id",
        F.round(F.col("value") * 100).cast("bigint").alias("v"),
        F.row_number().over(w).alias("rn"),
    ).where(F.col("rn") <= _LIS_LEN)
    ser = ranked.groupBy("user_id").agg(
        F.transform(
            F.sort_array(F.collect_list(F.struct("rn", "v"))), lambda s: s["v"]
        ).alias("s")
    )
    s = F.col("s")
    empty = F.expr("array()").cast("array<struct<v: bigint, l: bigint>>")
    folded = F.aggregate(
        s,
        empty,
        lambda acc, _e: F.concat(
            acc,
            F.array(
                F.struct(
                    F.element_at(s, (F.size(acc) + 1).cast("int")).alias("v"),
                    (
                        F.coalesce(
                            F.array_max(
                                F.transform(
                                    F.filter(
                                        acc,
                                        lambda e: e["v"]
                                        < F.element_at(
                                            s, (F.size(acc) + 1).cast("int")
                                        ),
                                    ),
                                    lambda e: e["l"],
                                )
                            ),
                            F.lit(0).cast("bigint"),
                        )
                        + 1
                    ).alias("l"),
                )
            ),
        ),
    )
    lis = F.array_max(F.transform(folded, lambda e: e["l"]))
    return (
        ser.select(lis.cast("bigint").alias("lis_len"))
        .groupBy("lis_len")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_users"))
        .orderBy("lis_len")
    )


# ---------------------------------------------------------------------------
# Hurst exponent by rescaled-range (R/S) analysis (Hurst 1951;
# Mandelbrot & Wallis 1969) — long-range dependence of the daily
# order-count series: for window sizes 16/64/256 the series splits
# into consecutive complete windows, each contributing R/S = (range
# of cumulative mean-deviations) / (population std); H is the slope
# of ln(avg R/S) on ln(n). Lockstep float discipline throughout: the
# cumulative deviation walk is an ORDERED window sum (sequential in
# both engines, bit-stable), per-window squared deviations and the
# final R/S enter DECIMAL accumulators on the 1e-9 lattice, and the
# 3-point slope is closed form. H ~ 0.5 = memoryless; the column
# ships per window size so the scaling law itself is visible.
_HURST_NS = (16, 64, 256)


def _sql_hurst() -> str:
    per_n = []
    for n in _HURST_NS:
        per_n.append(f"""
      SELECT {n} AS wn, w, d,
             CAST(x AS DOUBLE) AS x,
             COUNT(*) OVER (PARTITION BY w) AS cnt
      FROM (SELECT d // {n} AS w, d, x FROM daily)""")
    un = "\n      UNION ALL\n      ".join(per_n)
    return f"""
    WITH raw AS (
      SELECT CAST(date_diff('day', (SELECT min(o_orderdate) FROM orders),
                            o_orderdate) AS BIGINT) AS d,
             CAST(COUNT(*) AS BIGINT) AS x
      FROM orders GROUP BY 1
    ),
    daily AS (
      -- dense day spine: missing days are true zeros of the series
      SELECT t.d, COALESCE(raw.x, 0) AS x
      FROM (SELECT unnest(generate_series(0, (SELECT max(d) FROM raw)))
              AS d) t
      LEFT JOIN raw ON raw.d = t.d
    ),
    winx AS ({un}
    ),
    full_w AS (
      SELECT wn, w, d, x,
             AVG(x) OVER (PARTITION BY wn, w) AS mu
      FROM winx WHERE cnt = wn
    ),
    walk AS (
      SELECT wn, w,
             SUM(x - mu) OVER (PARTITION BY wn, w ORDER BY d) AS z,
             x, mu
      FROM full_w
    ),
    per_window AS (
      SELECT wn, w,
             MAX(z) - MIN(z) AS r,
             sqrt(CAST(SUM(CAST(round((x - mu) * (x - mu), 9)
                                AS DECIMAL(38,9))) AS DOUBLE) / wn) AS s
      FROM walk GROUP BY wn, w
    ),
    rs AS (
      SELECT wn, CAST(COUNT(*) AS BIGINT) AS n_windows,
             round(CAST(SUM(CAST(round(r / s, 9) AS DECIMAL(38,9)))
                        AS DOUBLE) / COUNT(*), 9) AS avg_rs
      FROM per_window WHERE s > 0 GROUP BY wn
    ),
    fit AS (
      SELECT round((COUNT(*) * SUM(CAST(round(ln(wn) * ln(avg_rs), 12)
                                        AS DECIMAL(38,12)))
                    - SUM(CAST(round(ln(wn), 12) AS DECIMAL(38,12)))
                      * SUM(CAST(round(ln(avg_rs), 12) AS DECIMAL(38,12))))
                   / (COUNT(*) * SUM(CAST(round(ln(wn) * ln(wn), 12)
                                          AS DECIMAL(38,12)))
                      - SUM(CAST(round(ln(wn), 12) AS DECIMAL(38,12)))
                        * SUM(CAST(round(ln(wn), 12) AS DECIMAL(38,12)))),
                   6) AS hurst
      FROM rs
    )
    SELECT CAST(rs.wn AS BIGINT) AS window_n, rs.n_windows, rs.avg_rs,
           fit.hurst
    FROM rs CROSS JOIN fit ORDER BY window_n
    """


@_q("hurst_exponent_rs", _sql_hurst())
def q_hurst_exponent_rs(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = t(spark, sf_dir, "orders")
    dmin = orders.agg(F.min("o_orderdate").alias("dmin"))
    raw = (
        orders.crossJoin(F.broadcast(dmin))
        .groupBy(
            F.datediff(F.col("o_orderdate"), F.col("dmin"))
            .cast("bigint")
            .alias("d")
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("x"))
    )
    # dense day spine: missing days are true zeros of the series
    spine = raw.agg(F.max("d").alias("dmax")).select(
        F.explode(F.sequence(F.lit(0).cast("bigint"), F.col("dmax"))).alias(
            "d"
        )
    )
    daily = (
        spine.join(raw, "d", "left")
        .select("d", F.coalesce(F.col("x"), F.lit(0)).alias("x"))
        .localCheckpoint(eager=True)
    )
    parts = []
    for n in _HURST_NS:
        parts.append(
            daily.select(
                F.lit(n).alias("wn"),
                F.floor(F.col("d") / n).alias("w"),
                "d",
                F.col("x").cast("double").alias("x"),
            ).withColumn(
                "cnt", F.count(F.lit(1)).over(Window.partitionBy("w"))
            ).where(F.col("cnt") == n)
        )
    winx = parts[0]
    for p_ in parts[1:]:
        winx = winx.unionByName(p_)
    wpm = Window.partitionBy("wn", "w")
    full_w = winx.withColumn("mu", F.avg("x").over(wpm))
    wz = Window.partitionBy("wn", "w").orderBy("d")
    walk = full_w.withColumn(
        "z", F.sum(F.col("x") - F.col("mu")).over(wz)
    )
    d9 = lambda c: F.round(c, 9).cast("decimal(38,9)")  # noqa: E731
    per_window = walk.groupBy("wn", "w").agg(
        (F.max("z") - F.min("z")).alias("r"),
        F.sqrt(
            F.sum(d9((F.col("x") - F.col("mu")) * (F.col("x") - F.col("mu"))))
            .cast("double")
            / F.col("wn")
        ).alias("s"),
    )
    rs = (
        per_window.where(F.col("s") > 0)
        .groupBy("wn")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_windows"),
            F.round(
                F.sum(d9(F.col("r") / F.col("s"))).cast("double")
                / F.count(F.lit(1)),
                9,
            ).alias("avg_rs"),
        )
    )
    d12 = lambda c: F.round(c, 12).cast("decimal(38,12)")  # noqa: E731
    fit = rs.agg(
        F.round(
            (
                F.count(F.lit(1))
                * F.sum(d12(F.log(F.col("wn")) * F.log(F.col("avg_rs"))))
                .cast("double")
                - F.sum(d12(F.log(F.col("wn")))).cast("double")
                * F.sum(d12(F.log(F.col("avg_rs")))).cast("double")
            )
            / (
                F.count(F.lit(1))
                * F.sum(d12(F.log(F.col("wn")) * F.log(F.col("wn"))))
                .cast("double")
                - F.sum(d12(F.log(F.col("wn")))).cast("double")
                * F.sum(d12(F.log(F.col("wn")))).cast("double")
            ),
            6,
        ).alias("hurst")
    )
    return (
        rs.crossJoin(F.broadcast(fit))
        .select(
            F.col("wn").cast("bigint").alias("window_n"),
            "n_windows",
            "avg_rs",
            "hurst",
        )
        .orderBy("window_n")
    )


# ---------------------------------------------------------------------------
# Permutation entropy (Bandt & Pompe 2002), order 3, over the daily
# revenue series — the ordinal-complexity measure that is invariant
# to monotone transforms of the values. Ordinal patterns come from
# three integer comparisons on the exact cents lattice (ties broken
# toward the earlier index, the standard stable convention), so the
# pattern census is exact; H = −Σ p·ln(p) normalized by ln(6) with
# per-pattern terms round(12)-latticed and summed as DECIMAL
# (order-free). Plan: one daily aggregate, one lead() pass, one
# 6-row census.
@_q(
    "permutation_entropy",
    """
    WITH daily AS (
      SELECT CAST(o_orderdate AS DATE) AS d,
             CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS y
      FROM orders GROUP BY 1
    ),
    win AS (
      SELECT y,
             lead(y, 1) OVER (ORDER BY d) AS y1,
             lead(y, 2) OVER (ORDER BY d) AS y2
      FROM daily
    ),
    pat AS (
      SELECT (CASE WHEN y1 >= y THEN 4 ELSE 0 END
              + CASE WHEN y2 >= y THEN 2 ELSE 0 END
              + CASE WHEN y2 >= y1 THEN 1 ELSE 0 END) AS pattern
      FROM win WHERE y2 IS NOT NULL
    ),
    census AS (
      SELECT pattern, CAST(COUNT(*) AS BIGINT) AS cnt,
             CAST(SUM(COUNT(*)) OVER () AS BIGINT) AS total
      FROM pat GROUP BY 1
    )
    SELECT pattern, cnt,
           round(CAST(cnt AS DOUBLE) / total, 6) AS p,
           round(CAST(SUM(CAST(round(-(CAST(cnt AS DOUBLE) / total)
                                     * ln(CAST(cnt AS DOUBLE) / total), 12)
                               AS DECIMAL(38,12))) OVER () AS DOUBLE)
                 / ln(6.0), 6) AS norm_perm_entropy
    FROM census ORDER BY pattern
    """,
)
def q_permutation_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = t(spark, sf_dir, "orders")
    daily = o.groupBy(F.col("o_orderdate").cast("date").alias("d")).agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint"))
        .cast("bigint")
        .alias("y")
    )
    w = Window.orderBy("d")
    win = daily.select(
        "y",
        F.lead("y", 1).over(w).alias("y1"),
        F.lead("y", 2).over(w).alias("y2"),
    ).where(F.col("y2").isNotNull())
    pat = win.select(
        (
            F.when(F.col("y1") >= F.col("y"), 4).otherwise(0)
            + F.when(F.col("y2") >= F.col("y"), 2).otherwise(0)
            + F.when(F.col("y2") >= F.col("y1"), 1).otherwise(0)
        ).alias("pattern")
    )
    census = pat.groupBy("pattern").agg(
        F.count(F.lit(1)).cast("bigint").alias("cnt")
    )
    wall = Window.partitionBy()
    census = census.withColumn(
        "total", F.sum("cnt").over(wall).cast("bigint")
    )
    p = F.col("cnt").cast("double") / F.col("total")
    term = F.round(-p * F.log(p), 12).cast("decimal(38,12)")
    return (
        census.select(
            "pattern",
            "cnt",
            F.round(p, 6).alias("p"),
            F.round(
                F.sum(term).over(wall).cast("double") / F.log(F.lit(6.0)), 6
            ).alias("norm_perm_entropy"),
        )
        .orderBy("pattern")
    )


# ---------------------------------------------------------------------------
# Sample entropy (Richman & Moorman 2000), m=2, over the daily revenue
# series: SampEn = −ln(A/B), A/B the counts of length-3/length-2
# template pairs agreeing within tolerance r. EXACT throughout: the
# tolerance is r = median(y)/20 expressed as the integer predicate
# 40·|y_i − y_j| <= med2 (med2 = doubled median, always integer on the
# cents lattice — the brown_forsythe seam), so A and B are exact pair
# counts and the single ln() is the only float op. The pair join is a
# broadcast over the DOMAIN-BOUNDED day spine (~2.4k days regardless
# of SF: 100 TB changes the daily aggregate's input volume, never the
# spine length) — the quadratic lives on the bounded axis only.
@_q(
    "sample_entropy",
    """
    WITH daily AS (
      SELECT CAST(o_orderdate AS DATE) AS d,
             CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS y
      FROM orders GROUP BY 1
    ),
    med AS (
      SELECT CAST(2 * median(y) AS BIGINT) AS med2 FROM daily
    ),
    idx AS (
      SELECT row_number() OVER (ORDER BY d) AS i, y,
             lead(y, 1) OVER (ORDER BY d) AS a1,
             lead(y, 2) OVER (ORDER BY d) AS a2
      FROM daily
    ),
    pairs AS (
      SELECT p.i AS i, q.i AS j,
             CASE WHEN 40 * abs(p.y - q.y) <= m.med2
                       AND 40 * abs(p.a1 - q.a1) <= m.med2
                  THEN 1 ELSE 0 END AS b_match,
             CASE WHEN p.a2 IS NOT NULL AND q.a2 IS NOT NULL
                       AND 40 * abs(p.y - q.y) <= m.med2
                       AND 40 * abs(p.a1 - q.a1) <= m.med2
                       AND 40 * abs(p.a2 - q.a2) <= m.med2
                  THEN 1 ELSE 0 END AS a_match
      FROM idx p JOIN idx q ON q.i > p.i CROSS JOIN med m
      WHERE p.a1 IS NOT NULL AND q.a1 IS NOT NULL
    ),
    agg AS (
      SELECT CAST(SUM(b_match) AS BIGINT) AS b,
             CAST(SUM(a_match) AS BIGINT) AS a
      FROM pairs
    )
    SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM daily) AS n_days,
           b AS b_count, a AS a_count,
           round(-ln(CAST(a AS DOUBLE) / b), 6) AS sampen
    FROM agg
    """,
)
def q_sample_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = t(spark, sf_dir, "orders")
    daily = o.groupBy(F.col("o_orderdate").cast("date").alias("d")).agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint"))
        .cast("bigint")
        .alias("y")
    )
    n_days = daily.agg(F.count(F.lit(1)).cast("bigint").alias("n_days"))
    med2 = daily.agg(
        (2 * F.median("y")).cast("bigint").alias("med2")
    )
    w = Window.orderBy("d")
    idx = daily.select(
        F.row_number().over(w).alias("i"),
        "y",
        F.lead("y", 1).over(w).alias("a1"),
        F.lead("y", 2).over(w).alias("a2"),
    ).where(F.col("a1").isNotNull())
    p = idx.select(
        F.col("i").alias("pi"),
        F.col("y").alias("py"),
        F.col("a1").alias("pa1"),
        F.col("a2").alias("pa2"),
    )
    q = idx.select(
        F.col("i").alias("qi"),
        F.col("y").alias("qy"),
        F.col("a1").alias("qa1"),
        F.col("a2").alias("qa2"),
    )
    tol = F.col("med2")
    pairs = (
        p.crossJoin(F.broadcast(med2))
        .join(F.broadcast(q), F.col("qi") > F.col("pi"))
        .select(
            F.when(
                (40 * F.abs(F.col("py") - F.col("qy")) <= tol)
                & (40 * F.abs(F.col("pa1") - F.col("qa1")) <= tol),
                1,
            )
            .otherwise(0)
            .alias("b_match"),
            F.when(
                F.col("pa2").isNotNull()
                & F.col("qa2").isNotNull()
                & (40 * F.abs(F.col("py") - F.col("qy")) <= tol)
                & (40 * F.abs(F.col("pa1") - F.col("qa1")) <= tol)
                & (40 * F.abs(F.col("pa2") - F.col("qa2")) <= tol),
                1,
            )
            .otherwise(0)
            .alias("a_match"),
        )
    )
    agg = pairs.agg(
        F.sum("b_match").cast("bigint").alias("b"),
        F.sum("a_match").cast("bigint").alias("a"),
    )
    return agg.crossJoin(F.broadcast(n_days)).select(
        "n_days",
        F.col("b").alias("b_count"),
        F.col("a").alias("a_count"),
        F.round(-F.log(F.col("a").cast("double") / F.col("b")), 6).alias(
            "sampen"
        ),
    )


# ---------------------------------------------------------------------------
# Page–Hinkley drift statistic (Page 1954; the streaming-drift test
# behind river/MOA detectors) over daily revenue: m_T = Σ(x_i − x̄_i)
# with x̄_i the RUNNING mean, PH_T = m_T − min_{t<=T} m_t. Windows do
# all of it — no fold: the running mean is an expanding-frame avg of
# exact cent integers, each term is round(6)-latticed and prefix-
# summed as DECIMAL (exact, order-irrelevant), and the running min is
# a second expanding frame. Reported per month (bounded output): the
# month's max PH and whether it crosses the lambda = 100k-dollar
# alarm. Plan: daily aggregate -> three expanding windows over the
# bounded day spine -> month census.
@_q(
    "page_hinkley_drift",
    """
    WITH daily AS (
      SELECT CAST(o_orderdate AS DATE) AS d,
             CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS y
      FROM orders GROUP BY 1
    ),
    term AS (
      SELECT d,
             CAST(round(y / 100.0
                        - (SUM(CAST(y AS HUGEINT)) OVER (ORDER BY d
                             ROWS UNBOUNDED PRECEDING) / 100.0)
                          / (ROW_NUMBER() OVER (ORDER BY d)), 6)
                  AS DECIMAL(38,6)) AS dev
      FROM daily
    ),
    m AS (
      SELECT d,
             SUM(dev) OVER (ORDER BY d ROWS UNBOUNDED PRECEDING) AS mt
      FROM term
    ),
    ph AS (
      SELECT d,
             CAST(mt - MIN(mt) OVER (ORDER BY d ROWS UNBOUNDED PRECEDING)
                  AS DOUBLE) AS ph
      FROM m
    )
    SELECT strftime(d, '%Y-%m') AS month,
           round(MAX(ph), 6) AS max_ph,
           CAST(MAX(ph) > 100000 AS BIGINT) AS alarm
    FROM ph GROUP BY 1 ORDER BY 1
    """,
)
def q_page_hinkley_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = t(spark, sf_dir, "orders")
    daily = o.groupBy(F.col("o_orderdate").cast("date").alias("d")).agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint"))
        .cast("bigint")
        .alias("y")
    )
    w = Window.orderBy("d").rowsBetween(Window.unboundedPreceding, 0)
    wo = Window.orderBy("d")
    term = daily.select(
        "d",
        F.round(
            F.col("y") / 100.0
            - (F.sum(F.col("y").cast("decimal(38,0)")).over(w) / 100.0)
            / F.row_number().over(wo),
            6,
        )
        .cast("decimal(38,6)")
        .alias("dev"),
    )
    m = term.select("d", F.sum("dev").over(w).alias("mt"))
    ph = m.select(
        "d", (F.col("mt") - F.min("mt").over(w)).cast("double").alias("ph")
    )
    return (
        ph.groupBy(F.date_format("d", "yyyy-MM").alias("month"))
        .agg(
            F.round(F.max("ph"), 6).alias("max_ph"),
            (F.max("ph") > 100000).cast("bigint").alias("alarm"),
        )
        .orderBy("month")
    )


# ---------------------------------------------------------------------------
# Dickey–Fuller unit-root test, lag-0 with intercept (Dickey & Fuller
# 1979): regress Δy_t on y_{t−1}; the reported DF statistic is the
# t-ratio of the slope, whose null distribution is the DF table (the
# statistic, not the p-value, is the deliverable — the standard
# engine contract for non-pivotal tests here). Exactness ladder: the
# daily series and Δy are exact cent integers; S_xx, S_xy, S_yy are
# N-scaled DECIMAL(38,0) moments; b, RSS, se and the t-ratio are one
# fixed closed-form double sequence. Plan: daily aggregate -> one
# lag() pass -> 5-integer reduce.
@_q(
    "dickey_fuller_unitroot",
    """
    WITH daily AS (
      SELECT CAST(o_orderdate AS DATE) AS d,
             CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS y
      FROM orders GROUP BY 1
    ),
    lagd AS (
      SELECT y - lag(y) OVER (ORDER BY d) AS dy,
             lag(y) OVER (ORDER BY d) AS yl
      FROM daily
    ),
    rows_ AS (SELECT dy, yl FROM lagd WHERE yl IS NOT NULL),
    m AS (
      SELECT CAST(COUNT(*) AS HUGEINT) AS n,
             SUM(CAST(dy AS HUGEINT)) AS sy,
             SUM(CAST(yl AS HUGEINT)) AS sx,
             SUM(CAST(dy AS HUGEINT) * dy) AS syy,
             SUM(CAST(yl AS HUGEINT) * yl) AS sxx,
             SUM(CAST(dy AS HUGEINT) * yl) AS sxy
      FROM rows_
    ),
    fit AS (
      SELECT CAST(n AS BIGINT) AS n,
             CAST(n * sxy - sx * sy AS DOUBLE)
               / CAST(n * sxx - sx * sx AS DOUBLE) AS b,
             (CAST(n * syy - sy * sy AS DOUBLE)
              - POWER(CAST(n * sxy - sx * sy AS DOUBLE), 2)
                / CAST(n * sxx - sx * sx AS DOUBLE))
             / CAST(n AS DOUBLE) AS rss_n
      FROM m
    )
    SELECT n AS n_obs,
           round(b, 6) AS rho_minus_1,
           round(b / sqrt((rss_n / (n - 2))
                          / (CAST((SELECT n * sxx - sx * sx FROM m)
                                  AS DOUBLE) / n)), 6) AS df_stat
    FROM fit
    """,
)
def q_dickey_fuller_unitroot(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = t(spark, sf_dir, "orders")
    daily = o.groupBy(F.col("o_orderdate").cast("date").alias("d")).agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint"))
        .cast("bigint")
        .alias("y")
    )
    w = Window.orderBy("d")
    lagd = daily.select(
        (F.col("y") - F.lag("y").over(w)).alias("dy"),
        F.lag("y").over(w).alias("yl"),
    ).where(F.col("yl").isNotNull())
    dec = lambda c: F.col(c).cast("decimal(38,0)")
    m = lagd.agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("n"),
        F.sum(dec("dy")).alias("sy"),
        F.sum(dec("yl")).alias("sx"),
        F.sum(dec("dy") * F.col("dy")).alias("syy"),
        F.sum(dec("yl") * F.col("yl")).alias("sxx"),
        F.sum(dec("dy") * F.col("yl")).alias("sxy"),
    ).collect()[0]
    import math as _math

    n = int(m["n"])
    sy, sx = int(m["sy"]), int(m["sx"])
    syy, sxx, sxy = int(m["syy"]), int(m["sxx"]), int(m["sxy"])
    b = float(n * sxy - sx * sy) / float(n * sxx - sx * sx)
    rss_n = (
        float(n * syy - sy * sy)
        - float(n * sxy - sx * sy) ** 2 / float(n * sxx - sx * sx)
    ) / float(n)
    df = b / _math.sqrt((rss_n / (n - 2)) / (float(n * sxx - sx * sx) / n))
    rows = [(n, round(b, 6), round(df, 6))]
    return o.sparkSession.createDataFrame(
        rows, "n_obs bigint, rho_minus_1 double, df_stat double"
    )


# ---------------------------------------------------------------------------
# Gumbel extreme-value fit (method of moments) on MONTHLY MAXIMA of
# daily revenue — the block-maxima EVT workhorse (Gumbel 1958):
# β̂ = s·√6/π, μ̂ = m − γ·β̂ (γ = Euler–Mascheroni, a literal both
# engines share), plus the derived 12-block return level
# μ̂ − β̂·ln(−ln(1 − 1/12)). Monthly maxima are exact cent integers;
# m and s come from exact BIGINT block sums; the fit is one closed
# form. Plan: daily aggregate -> month-max aggregate (bounded ~80
# blocks) -> 1-row closed form.
@_q(
    "gumbel_block_maxima",
    """
    WITH daily AS (
      SELECT CAST(o_orderdate AS DATE) AS d,
             CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS y
      FROM orders GROUP BY 1
    ),
    blocks AS (
      SELECT strftime(d, '%Y-%m') AS mth, MAX(y) AS mx
      FROM daily GROUP BY 1
    ),
    m AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(mx) AS HUGEINT) AS s,
             CAST(SUM(CAST(mx AS HUGEINT) * mx) AS HUGEINT) AS ss
      FROM blocks
    ),
    fit AS (
      SELECT n,
             CAST(s AS DOUBLE) / n / 100 AS mean_max,
             sqrt((CAST(n AS DOUBLE) * CAST(ss AS DOUBLE)
                   - CAST(s AS DOUBLE) * CAST(s AS DOUBLE))
                  / (CAST(n AS DOUBLE) * (n - 1))) / 100 AS sd_max
      FROM m
    )
    SELECT n AS n_blocks,
           round(mean_max, 6) AS mean_max,
           round(sd_max * sqrt(6.0) / pi(), 6) AS gumbel_beta,
           round(mean_max - 0.5772156649015329 * (sd_max * sqrt(6.0) / pi()),
                 6) AS gumbel_mu,
           round((mean_max - 0.5772156649015329
                  * (sd_max * sqrt(6.0) / pi()))
                 - (sd_max * sqrt(6.0) / pi())
                   * ln(-ln(1.0 - 1.0 / 12)), 6) AS return_level_12
    FROM fit
    """,
)
def q_gumbel_block_maxima(spark: SparkSession, sf_dir: str) -> DataFrame:
    import math as _math

    o = t(spark, sf_dir, "orders")
    daily = o.groupBy(F.col("o_orderdate").cast("date").alias("d")).agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint"))
        .cast("bigint")
        .alias("y")
    )
    blocks = daily.groupBy(
        F.date_format("d", "yyyy-MM").alias("mth")
    ).agg(F.max("y").alias("mx"))
    m = blocks.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(F.col("mx").cast("decimal(38,0)")).alias("s"),
        F.sum(F.col("mx").cast("decimal(38,0)") * F.col("mx")).alias("ss"),
    )
    n = F.col("n")
    mean_max = F.col("s").cast("double") / n / 100
    sd_max = (
        F.sqrt(
            (n.cast("double") * F.col("ss").cast("double")
             - F.col("s").cast("double") * F.col("s").cast("double"))
            / (n.cast("double") * (n - 1))
        )
        / 100
    )
    beta = sd_max * F.sqrt(F.lit(6.0)) / F.lit(_math.pi)
    mu = mean_max - F.lit(0.5772156649015329) * beta
    return m.select(
        n.alias("n_blocks"),
        F.round(mean_max, 6).alias("mean_max"),
        F.round(beta, 6).alias("gumbel_beta"),
        F.round(mu, 6).alias("gumbel_mu"),
        F.round(
            mu - beta * F.log(-F.log(F.lit(1.0) - F.lit(1.0) / 12)), 6
        ).alias("return_level_12"),
    )


# ---------------------------------------------------------------------------
# Elo ratings (Elo 1978) over DAILY BRAND DUELS: each ship-day the
# top-revenue brand "beats" the runner-up (rank by exact cent revenue,
# brand tie-break); ratings update sequentially with K=32 and the
# 10^(Δ/400) logistic expectation. The recursion is a Catalyst-native
# higher-order fold (the DTW/LCS seam): the duel list is a bounded
# ~2.4k-element array, the accumulator the 25-brand rating vector;
# the expected score is round(9)-ed after its single pow() and each
# rating delta round(6)-ed, so the chained state stays on a shared
# lattice across engines. The DuckDB twin folds the SAME recurrence
# with list_reduce over typed placeholders, carrying a step COUNTER
# in slot 1 of the accumulator (list_reduce gives no index; the DP
# row there grows, this one doesn't — the counter restores random
# access into the duel list). 100 TB: revenue ranking is the only
# distributed stage; the fold is one bounded expression.
@_q(
    "elo_brand_ratings",
    """
    WITH rev AS (
      SELECT CAST(l.l_shipdate AS DATE) AS d, p.p_brand AS b,
             CAST(SUM(CAST(round(l.l_extendedprice * 100) AS BIGINT))
                  AS BIGINT) AS r
      FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
      GROUP BY 1, 2
    ),
    top2 AS (
      SELECT d, b, row_number() OVER (PARTITION BY d ORDER BY r DESC, b)
               AS rk
      FROM rev
    ),
    brands AS (
      SELECT list(b ORDER BY b) AS bl
      FROM (SELECT DISTINCT p_brand AS b FROM part)
    ),
    duel AS (
      SELECT t.d,
             CAST(list_position(br.bl,
               max(CASE WHEN t.rk = 1 THEN t.b END)) AS INT) AS wi,
             CAST(list_position(br.bl,
               max(CASE WHEN t.rk = 2 THEN t.b END)) AS INT) AS li
      FROM top2 t CROSS JOIN brands br
      WHERE t.rk <= 2
      GROUP BY t.d, br.bl HAVING COUNT(*) = 2
    ),
    arr AS (
      SELECT (SELECT bl FROM brands) AS bl,
             list(struct_pack(wi := wi, li := li) ORDER BY d) AS duels,
             CAST(COUNT(*) AS BIGINT) AS n_duels
      FROM duel
    ),
    folded AS (
      SELECT bl, n_duels,
             list_reduce(
               [[0.0] || list_transform(bl, x -> 1000.0)]
                 || list_transform(duels, x -> CAST([] AS DOUBLE[])),
               (acc, it) ->
                 list_transform(range(1, len(bl) + 2), i ->
                   CASE
                     WHEN i = 1 THEN acc[1] + 1
                     WHEN i = duels[CAST(acc[1] AS INT) + 1].wi + 1
                     THEN round(acc[i] + round(32 * (1 - round(
                       1 / (1 + power(10,
                         (acc[duels[CAST(acc[1] AS INT) + 1].li + 1]
                          - acc[duels[CAST(acc[1] AS INT) + 1].wi + 1])
                         / 400.0)), 9)), 6), 6)
                     WHEN i = duels[CAST(acc[1] AS INT) + 1].li + 1
                     THEN round(acc[i] - round(32 * (1 - round(
                       1 / (1 + power(10,
                         (acc[duels[CAST(acc[1] AS INT) + 1].li + 1]
                          - acc[duels[CAST(acc[1] AS INT) + 1].wi + 1])
                         / 400.0)), 9)), 6), 6)
                     ELSE acc[i]
                   END)
             ) AS st
      FROM arr
    )
    SELECT u.b AS brand, round(u.rating, 6) AS rating, f.n_duels
    FROM folded f,
         LATERAL (SELECT unnest(f.bl) AS b,
                         unnest(f.st[2:len(f.bl) + 1]) AS rating) u
    ORDER BY rating DESC, brand LIMIT 10
    """,
)
def q_elo_brand_ratings(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem")
    pt = t(spark, sf_dir, "part")
    rev = (
        li.join(F.broadcast(pt), li["l_partkey"] == pt["p_partkey"])
        .groupBy(
            F.col("l_shipdate").cast("date").alias("d"),
            F.col("p_brand").alias("b"),
        )
        .agg(
            F.sum(F.round(F.col("l_extendedprice") * 100).cast("bigint"))
            .cast("bigint")
            .alias("r")
        )
    )
    wd = Window.partitionBy("d").orderBy(F.desc("r"), "b")
    top2 = rev.select("d", "b", F.row_number().over(wd).alias("rk")).where(
        F.col("rk") <= 2
    )
    brands = pt.select(F.col("p_brand").alias("b")).distinct().agg(
        F.sort_array(F.collect_list("b")).alias("bl")
    )
    duel = (
        top2.groupBy("d")
        .agg(
            F.max(F.when(F.col("rk") == 1, F.col("b"))).alias("wb"),
            F.max(F.when(F.col("rk") == 2, F.col("b"))).alias("lb"),
            F.count(F.lit(1)).alias("c"),
        )
        .where(F.col("c") == 2)
        .crossJoin(F.broadcast(brands))
        .select(
            "d",
            F.array_position(F.col("bl"), F.col("wb"))
            .cast("int")
            .alias("wi"),
            F.array_position(F.col("bl"), F.col("lb"))
            .cast("int")
            .alias("li"),
        )
    )
    arr = duel.crossJoin(F.broadcast(brands)).groupBy("bl").agg(
        F.transform(
            F.sort_array(F.collect_list(F.struct("d", "wi", "li"))),
            lambda s: F.struct(s["wi"].alias("wi"), s["li"].alias("li")),
        ).alias("duels"),
        F.count(F.lit(1)).cast("bigint").alias("n_duels"),
    )
    init = F.expr("transform(bl, x -> 1000.0D)")

    def _step(acc, du):
        ra = F.element_at(acc, du["wi"])
        rb = F.element_at(acc, du["li"])
        e = F.round(
            F.lit(1.0) / (1 + F.pow(F.lit(10.0), (rb - ra) / F.lit(400.0))),
            9,
        )
        delta = F.round(32 * (1 - e), 6)
        return F.transform(
            acc,
            lambda v, i: F.when(i + 1 == du["wi"], F.round(v + delta, 6))
            .when(i + 1 == du["li"], F.round(v - delta, 6))
            .otherwise(v),
        )

    folded = arr.select(
        "bl",
        "n_duels",
        F.aggregate(F.col("duels"), init, _step).alias("st"),
    )
    out = folded.select(
        "n_duels", F.arrays_zip(F.col("bl"), F.col("st")).alias("z")
    ).select("n_duels", F.explode("z").alias("e"))
    return (
        out.select(
            F.col("e.bl").alias("brand"),
            F.round(F.col("e.st"), 6).alias("rating"),
            "n_duels",
        )
        .orderBy(F.desc("rating"), "brand")
        .limit(10)
    )


# ---------------------------------------------------------------------------
# Hampel filter (Hampel 1974; the robust rolling-outlier detector) on
# daily revenue: day i is an outlier when |y_i − med_i| exceeds
# 3·1.4826·MAD_i, with med_i the median of the centered 15-day window
# and MAD_i the median absolute deviation FROM THAT CENTER median
# (the textbook two-pass Hampel — not the cheaper per-row-median
# variant). EXACT decision rule: the doubled median m2 and
# quadrupled MAD mad4 are integers on the cents lattice, so the flag
# |2y − m2|·20000 > 3·14826·mad4 is pure BIGINT arithmetic — no
# float ever enters it. Both engines materialize the window by an
# explicit ±7 neighbor join over the BOUNDED day spine (Spark has no
# frame-median; the join is the same multiset, shrinking at the
# edges exactly like a window frame would).
@_q(
    "hampel_outlier_days",
    """
    WITH daily AS (
      SELECT CAST(o_orderdate AS DATE) AS d,
             CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS y
      FROM orders GROUP BY 1
    ),
    idx AS (
      SELECT d, y, row_number() OVER (ORDER BY d) AS i FROM daily
    ),
    nb AS (
      SELECT c.i AS i, c.d AS d, c.y AS y, o.y AS yn
      FROM idx c JOIN idx o ON o.i BETWEEN c.i - 7 AND c.i + 7
    ),
    med AS (
      SELECT i, d, y, CAST(2 * median(yn) AS BIGINT) AS m2
      FROM nb GROUP BY i, d, y
    ),
    mad AS (
      SELECT m.i, m.d, m.y, m.m2,
             CAST(2 * median(abs(2 * n.yn - m.m2)) AS BIGINT) AS mad4
      FROM med m JOIN nb n ON n.i = m.i
      GROUP BY m.i, m.d, m.y, m.m2
    )
    SELECT strftime(d, '%Y-%m-%d') AS day,
           round(CAST(y AS DOUBLE) / 100, 2) AS revenue,
           round(CAST(2 * y - m2 AS DOUBLE) / 200, 2) AS deviation
    FROM mad
    WHERE abs(2 * y - m2) * 20000 > 3 * 14826 * mad4
    ORDER BY d
    """,
)
def q_hampel_outlier_days(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = t(spark, sf_dir, "orders")
    daily = o.groupBy(F.col("o_orderdate").cast("date").alias("d")).agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint"))
        .cast("bigint")
        .alias("y")
    )
    w = Window.orderBy("d")
    idx = daily.select("d", "y", F.row_number().over(w).alias("i"))
    other = idx.select(F.col("i").alias("j"), F.col("y").alias("yn"))
    nb = idx.join(
        F.broadcast(other),
        (F.col("j") >= F.col("i") - 7) & (F.col("j") <= F.col("i") + 7),
    )
    med = nb.groupBy("i", "d", "y").agg(
        (2 * F.median("yn")).cast("bigint").alias("m2")
    )
    mad = (
        med.join(
            nb.select("i", "yn").withColumnRenamed("i", "i2"),
            F.col("i2") == F.col("i"),
        )
        .groupBy("i", "d", "y", "m2")
        .agg(
            (2 * F.median(F.abs(2 * F.col("yn") - F.col("m2"))))
            .cast("bigint")
            .alias("mad4")
        )
    )
    return (
        mad.where(
            F.abs(2 * F.col("y") - F.col("m2")) * 20000
            > 3 * 14826 * F.col("mad4")
        )
        .select(
            F.date_format("d", "yyyy-MM-dd").alias("day"),
            F.round(F.col("y").cast("double") / 100, 2).alias("revenue"),
            F.round(
                (2 * F.col("y") - F.col("m2")).cast("double") / 200, 2
            ).alias("deviation"),
        )
        .orderBy("day")
    )


# ---------------------------------------------------------------------------
# Taylor's power law (Taylor 1961): across brands, the variance of
# daily brand revenue scales as var ≈ a·mean^b; the exponent b — the
# aggregation/burstiness fingerprint (b=1 Poisson-like, b=2 fully
# synchronized) — is the slope of ln(var) on ln(mean) over the 25
# brand groups. Per-brand (n, Σy, Σy²) are exact DECIMAL(38,0) cent
# moments; mean and unbiased var are closed-form doubles; each ln()
# runs once per brand and the 25-point regression follows the
# corr_regression closed form with round(12)-latticed DECIMAL sums.
@_q(
    "taylors_law_exponent",
    """
    WITH per_bd AS (
      SELECT p.p_brand AS b, CAST(l.l_shipdate AS DATE) AS d,
             CAST(SUM(CAST(round(l.l_extendedprice * 100) AS BIGINT))
                  AS BIGINT) AS y
      FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
      GROUP BY 1, 2
    ),
    mv AS (
      SELECT b, CAST(COUNT(*) AS BIGINT) AS n,
             SUM(CAST(y AS HUGEINT)) AS s,
             SUM(CAST(y AS HUGEINT) * y) AS ss
      FROM per_bd GROUP BY 1
    ),
    lx AS (
      SELECT b,
             ln(CAST(s AS DOUBLE) / n) AS lm,
             ln((CAST(n AS DOUBLE) * CAST(ss AS DOUBLE)
                 - CAST(s AS DOUBLE) * CAST(s AS DOUBLE))
                / (CAST(n AS DOUBLE) * (n - 1))) AS lv
      FROM mv WHERE n >= 2
    ),
    reg AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS k,
             CAST(SUM(CAST(round(lm, 12) AS DECIMAL(38,12))) AS DOUBLE)
               AS sx,
             CAST(SUM(CAST(round(lv, 12) AS DECIMAL(38,12))) AS DOUBLE)
               AS sy,
             CAST(SUM(CAST(round(lm * lm, 12) AS DECIMAL(38,12)))
                  AS DOUBLE) AS sxx,
             CAST(SUM(CAST(round(lm * lv, 12) AS DECIMAL(38,12)))
                  AS DOUBLE) AS sxy
      FROM lx
    )
    SELECT k AS n_brands,
           round((k * sxy - sx * sy) / (k * sxx - sx * sx), 6)
             AS taylor_exponent,
           round((sy - (k * sxy - sx * sy) / (k * sxx - sx * sx) * sx) / k,
                 6) AS log_intercept
    FROM reg
    """,
)
def q_taylors_law_exponent(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem")
    pt = t(spark, sf_dir, "part")
    per_bd = (
        li.join(F.broadcast(pt), li["l_partkey"] == pt["p_partkey"])
        .groupBy(
            F.col("p_brand").alias("b"),
            F.col("l_shipdate").cast("date").alias("d"),
        )
        .agg(
            F.sum(F.round(F.col("l_extendedprice") * 100).cast("bigint"))
            .cast("bigint")
            .alias("y")
        )
    )
    mv = per_bd.groupBy("b").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(F.col("y").cast("decimal(38,0)")).alias("s"),
        F.sum(F.col("y").cast("decimal(38,0)") * F.col("y")).alias("ss"),
    )
    n = F.col("n")
    lm = F.log(F.col("s").cast("double") / n)
    lv = F.log(
        (n.cast("double") * F.col("ss").cast("double")
         - F.col("s").cast("double") * F.col("s").cast("double"))
        / (n.cast("double") * (n - 1))
    )
    lx = mv.where(n >= 2).select("b", lm.alias("lm"), lv.alias("lv"))
    d12 = lambda e: F.round(e, 12).cast("decimal(38,12)")
    reg = lx.agg(
        F.count(F.lit(1)).cast("bigint").alias("k"),
        F.sum(d12(F.col("lm"))).cast("double").alias("sx"),
        F.sum(d12(F.col("lv"))).cast("double").alias("sy"),
        F.sum(d12(F.col("lm") * F.col("lm"))).cast("double").alias("sxx"),
        F.sum(d12(F.col("lm") * F.col("lv"))).cast("double").alias("sxy"),
    )
    k = F.col("k")
    sx, sy, sxx, sxy = (F.col(x) for x in ("sx", "sy", "sxx", "sxy"))
    slope = (k * sxy - sx * sy) / (k * sxx - sx * sx)
    return reg.select(
        k.alias("n_brands"),
        F.round(slope, 6).alias("taylor_exponent"),
        F.round((sy - slope * sx) / k, 6).alias("log_intercept"),
    )


# ---------------------------------------------------------------------------
# Spectral entropy (the flatness-of-spectrum complexity measure used
# for regime detection): normalized Shannon entropy of the daily
# revenue periodogram over the bounded period bank 2..30 days —
# H = 1 means white-noise-flat, H → 0 means one dominant cycle.
# Same single-bin DFT seam as dft_seasonal_power: per-term
# x·cos/sin on the 1e-6 lattice summed in DECIMAL; per-period POWER
# is then round(6)-latticed BEFORE the cross-period normalization so
# the total is an exact DECIMAL sum, and the entropy terms are
# round(12)-latticed (order-free). Output: entropy + the dominant
# period, one row.
_SE_PERIODS = tuple(range(2, 31))


def _sql_spectral_entropy() -> str:
    vals = ", ".join(f"({p})" for p in _SE_PERIODS)
    return f"""
    WITH daily AS (
      SELECT CAST(date_diff('day', (SELECT min(o_orderdate) FROM orders),
                            o_orderdate) AS BIGINT) AS d,
             CAST(CAST(SUM(CAST(o_totalprice * 100 AS DECIMAL(38,0)))
                       AS DECIMAL(38,0)) AS DOUBLE) AS x
      FROM daily_src
    ),
    periods(p) AS (VALUES {vals}),
    terms AS (
      SELECT p,
             SUM(CAST(round(x * cos(2 * pi() * d / p), 6)
                      AS DECIMAL(38,6))) AS c,
             SUM(CAST(round(x * sin(2 * pi() * d / p), 6)
                      AS DECIMAL(38,6))) AS s
      FROM daily CROSS JOIN periods
      GROUP BY p
    ),
    pw AS (
      SELECT p,
             CAST(round(CAST(c AS DOUBLE) * CAST(c AS DOUBLE)
                        + CAST(s AS DOUBLE) * CAST(s AS DOUBLE), 6)
                  AS DECIMAL(38,6)) AS pow6
      FROM terms
    ),
    tot AS (SELECT SUM(pow6) AS tp FROM pw),
    ent AS (
      SELECT CAST(SUM(CAST(round(
               -(CAST(pow6 AS DOUBLE) / CAST(tp AS DOUBLE))
               * ln(CAST(pow6 AS DOUBLE) / CAST(tp AS DOUBLE)), 12)
               AS DECIMAL(38,12))) AS DOUBLE) AS h
      FROM pw CROSS JOIN tot
    )
    SELECT CAST({len(_SE_PERIODS)} AS BIGINT) AS n_periods,
           (SELECT CAST(p AS BIGINT) FROM pw
            ORDER BY pow6 DESC, p LIMIT 1) AS dominant_period,
           round((SELECT h FROM ent) / ln({len(_SE_PERIODS)}.0), 6)
             AS spectral_entropy
    """.replace("FROM daily_src", "FROM orders GROUP BY 1")


@_q("spectral_entropy", _sql_spectral_entropy())
def q_spectral_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    import math

    orders = t(spark, sf_dir, "orders")
    dmin = orders.agg(F.min("o_orderdate").alias("dmin"))
    daily = (
        orders.crossJoin(F.broadcast(dmin))
        .groupBy(
            F.datediff(F.col("o_orderdate"), F.col("dmin"))
            .cast("bigint")
            .alias("d")
        )
        .agg(
            F.sum((F.col("o_totalprice") * 100).cast("decimal(38,0)"))
            .cast("decimal(38,0)")
            .cast("double")
            .alias("x")
        )
    )
    periods = daily.sparkSession.createDataFrame(
        [(p,) for p in _SE_PERIODS], "p int"
    )
    ang = 2 * math.pi * F.col("d") / F.col("p")
    terms = (
        daily.crossJoin(F.broadcast(periods))
        .groupBy("p")
        .agg(
            F.sum(
                F.round(F.col("x") * F.cos(ang), 6).cast("decimal(38,6)")
            ).alias("c"),
            F.sum(
                F.round(F.col("x") * F.sin(ang), 6).cast("decimal(38,6)")
            ).alias("s"),
        )
    )
    c, s = F.col("c").cast("double"), F.col("s").cast("double")
    pw = terms.select(
        "p", F.round(c * c + s * s, 6).cast("decimal(38,6)").alias("pow6")
    )
    tot = pw.agg(F.sum("pow6").alias("tp"))
    withp = pw.crossJoin(F.broadcast(tot))
    prob = F.col("pow6").cast("double") / F.col("tp").cast("double")
    ent = withp.agg(
        F.sum(F.round(-prob * F.log(prob), 12).cast("decimal(38,12)"))
        .cast("double")
        .alias("h")
    )
    dom = pw.orderBy(F.desc("pow6"), "p").limit(1).select(
        F.col("p").cast("bigint").alias("dominant_period")
    )
    return ent.crossJoin(F.broadcast(dom)).select(
        F.lit(len(_SE_PERIODS)).cast("bigint").alias("n_periods"),
        "dominant_period",
        F.round(F.col("h") / F.lit(math.log(float(len(_SE_PERIODS)))), 6)
        .alias("spectral_entropy"),
    )
