"""Time/event queries over `events` (SURVEY §2.8 extension surface).

Batch formulations of the streaming operators — tumbling/sliding
windows, sessionization, stateful dedup, as-of join — each with an
ANSI-SQL oracle. The true Structured Streaming forms (readStream +
watermark) live in ``streaming/`` and are covered by rows-only tests;
the semantics here are the reference point they must agree with.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ._util import t, dsum, sql_dsum, registry

QUERIES, ORACLES, _q = registry()


_FMT = "yyyy-MM-dd HH:mm:ss"
_SQL_FMT = "%Y-%m-%d %H:%M:%S"


# ---------------------------------------------------------------------------
# JSON property extraction (`props` is a JSON string).
@_q(
    "json_props",
    """
    SELECT event_type,
           CAST(SUM(CAST(json_extract_string(props, '$.k') AS INT)) AS BIGINT) AS sum_k,
           COUNT(json_extract_string(props, '$.k')) AS n_with_k
    FROM events GROUP BY event_type
    """,
)
def q_json_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("int")
    return ev.select("event_type", k.alias("k")).groupBy("event_type").agg(
        F.sum("k").cast("long").alias("sum_k"), F.count("k").alias("n_with_k")
    )


# ---------------------------------------------------------------------------
# Tumbling 10-minute windows: Spark `window()` ≡ DuckDB time_bucket.
@_q(
    "tumbling_window",
    f"""
    SELECT strftime(time_bucket(INTERVAL '10 minutes', ts), '{_SQL_FMT}') AS wstart,
           event_type,
           COUNT(*) AS n,
           {sql_dsum('value')} AS sum_value
    FROM events GROUP BY 1, 2
    """,
)
def q_tumbling_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events")
    win = F.window("ts", "10 minutes")
    return (
        ev.groupBy(win.alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"), dsum(F.col("value")).alias("sum_value"))
        .select(
            F.date_format("w.start", _FMT).alias("wstart"),
            "event_type",
            "n",
            "sum_value",
        )
    )


# ---------------------------------------------------------------------------
# Sliding windows (10 min length, 5 min slide): each event falls in
# exactly two windows; the oracle enumerates both starts explicitly.
@_q(
    "sliding_window",
    f"""
    WITH expanded AS (
      SELECT unnest([
               time_bucket(INTERVAL '5 minutes', ts),
               time_bucket(INTERVAL '5 minutes', ts) - INTERVAL '5 minutes'
             ]) AS wstart,
             value
      FROM events
    )
    SELECT strftime(wstart, '{_SQL_FMT}') AS wstart,
           COUNT(*) AS n,
           {sql_dsum('value')} AS sum_value
    FROM expanded GROUP BY 1
    """,
)
def q_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events")
    win = F.window("ts", "10 minutes", "5 minutes")
    return (
        ev.groupBy(win.alias("w"))
        .agg(F.count(F.lit(1)).alias("n"), dsum(F.col("value")).alias("sum_value"))
        .select(F.date_format("w.start", _FMT).alias("wstart"), "n", "sum_value")
    )


# ---------------------------------------------------------------------------
# Sessionization (30-minute inactivity gap) as gaps-and-islands — the
# batch twin of `session_window`.
@_q(
    "sessionization",
    f"""
    WITH flagged AS (
      SELECT user_id, ts,
             CASE WHEN lag(ts) OVER w IS NULL
                       OR ts - lag(ts) OVER w > INTERVAL '30 minutes'
                  THEN 1 ELSE 0 END AS new_session
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    sess AS (
      SELECT user_id, ts,
             SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                    ROWS UNBOUNDED PRECEDING) AS session_id
      FROM flagged
    )
    SELECT user_id, CAST(session_id AS INT) AS session_id,
           COUNT(*) AS n_events,
           strftime(min(ts), '{_SQL_FMT}') AS session_start
    FROM sess GROUP BY user_id, session_id
    """,
)
def q_sessionization(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.col("ts").cast("long") - F.lag(F.col("ts")).over(w).cast("long")
    flagged = ev.withColumn(
        "new_session",
        F.when(gap.isNull() | (gap > 30 * 60), 1).otherwise(0),
    )
    w2 = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    sess = flagged.withColumn("session_id", F.sum("new_session").over(w2).cast("int"))
    return sess.groupBy("user_id", "session_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.date_format(F.min("ts"), _FMT).alias("session_start"),
    )


# ---------------------------------------------------------------------------
# Stateful dedup analog: first event per (user_id, event_type).
@_q(
    "dedup_first_event",
    """
    SELECT user_id, event_type, event_id
    FROM (
      SELECT user_id, event_type, event_id,
             row_number() OVER (PARTITION BY user_id, event_type
                                ORDER BY ts, event_id) AS rn
      FROM events
    ) WHERE rn = 1
    """,
)
def q_dedup_first_event(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("user_id", "event_type", "event_id")
    )


# ---------------------------------------------------------------------------
# As-of join: for each purchase, the most recent prior-or-equal click
# by the same user (range/as-of extension, SURVEY §2.4 "not present" →
# engine extension).
@_q(
    "asof_click_before_purchase",
    f"""
    SELECT p.event_id AS purchase_id,
           strftime(max(c.ts), '{_SQL_FMT}') AS last_click_ts
    FROM events p LEFT JOIN events c
      ON c.user_id = p.user_id AND c.event_type = 'click' AND c.ts <= p.ts
    WHERE p.event_type = 'purchase'
    GROUP BY p.event_id
    """,
)
def q_asof_click_before_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events")
    purchases = ev.where(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("p_ts"),
    )
    clicks = ev.where(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user"), F.col("ts").alias("c_ts")
    )
    joined = purchases.join(
        clicks,
        (purchases["p_user"] == clicks["c_user"]) & (clicks["c_ts"] <= purchases["p_ts"]),
        "left",
    )
    return joined.groupBy("purchase_id").agg(
        F.date_format(F.max("c_ts"), _FMT).alias("last_click_ts")
    )


# ---------------------------------------------------------------------------
# Event-time interval join (batch twin of the stream-stream join):
# click ⋈ same-user purchase within [click, click+30min]. At scale this
# is a shuffle join on user_id with the time predicate evaluated
# post-probe; the streaming form bounds state with the same interval.
@_q(
    "interval_join_click_purchase",
    f"""
    SELECT c.event_id AS click_id,
           p.event_id AS purchase_id,
           strftime(c.ts, '{_SQL_FMT}') AS click_ts,
           strftime(p.ts, '{_SQL_FMT}') AS purchase_ts
    FROM events c JOIN events p
      ON p.user_id = c.user_id
     AND c.event_type = 'click' AND p.event_type = 'purchase'
     AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 30 MINUTE
    """,
)
def q_interval_join_click_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events")
    clicks = ev.where(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"),
        F.col("user_id").alias("c_user"),
        F.col("ts").alias("c_ts"),
    )
    purchases = ev.where(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("p_ts"),
    )
    joined = clicks.join(
        purchases,
        (F.col("c_user") == F.col("p_user"))
        & (F.col("p_ts") >= F.col("c_ts"))
        & (F.col("p_ts") <= F.col("c_ts") + F.expr("INTERVAL 30 MINUTES")),
    )
    return joined.select(
        "click_id",
        "purchase_id",
        F.date_format("c_ts", _FMT).alias("click_ts"),
        F.date_format("p_ts", _FMT).alias("purchase_ts"),
    )


# ---------------------------------------------------------------------------
# As-of join, union-sort-window form — the scale-superior physical
# shape. The join+max form above pairs every purchase with EVERY prior
# click of that user before aggregating (quadratic per user in the
# worst case); this form unions the two event sets, sorts once within
# each user partition, and carries the last click forward with
# last(ignorenulls) — one shuffle, linear work per user, no pair
# explosion. Equal-ts ties order clicks before purchases so an
# exactly-simultaneous click is visible (the <= semantics of the
# oracle). Same oracle as the join form — identical semantics, plan
# shapes compared.
@_q(
    "asof_union_window",
    f"""
    SELECT p.event_id AS purchase_id,
           strftime(max(c.ts), '{_SQL_FMT}') AS last_click_ts
    FROM events p LEFT JOIN events c
      ON c.user_id = p.user_id AND c.event_type = 'click' AND c.ts <= p.ts
    WHERE p.event_type = 'purchase'
    GROUP BY p.event_id
    """,
)
def q_asof_union_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = t(spark, sf_dir, "events").where(
        F.col("event_type").isin("click", "purchase")
    )
    tagged = ev.select(
        "event_id",
        "user_id",
        "ts",
        (F.col("event_type") == "purchase").cast("int").alias("is_purchase"),
        F.when(F.col("event_type") == "click", F.col("ts")).alias("click_ts"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.asc("ts"), F.asc("is_purchase"), F.asc("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    carried = tagged.withColumn(
        "last_click", F.last("click_ts", ignorenulls=True).over(w)
    )
    return carried.where(F.col("is_purchase") == 1).select(
        F.col("event_id").alias("purchase_id"),
        F.date_format("last_click", _FMT).alias("last_click_ts"),
    )


# ---------------------------------------------------------------------------
# FORWARD as-of: for each purchase, the EARLIEST click at-or-after it
# (lead-time analysis: "how soon after buying does the user come
# back"). Same union-sort-window shape, sorted descending so
# last(ignorenulls) carries the next click backward.
@_q(
    "asof_forward_next_click",
    f"""
    SELECT p.event_id AS purchase_id,
           strftime(min(c.ts), '{_SQL_FMT}') AS next_click_ts
    FROM events p LEFT JOIN events c
      ON c.user_id = p.user_id AND c.event_type = 'click' AND c.ts >= p.ts
    WHERE p.event_type = 'purchase'
    GROUP BY p.event_id
    """,
)
def q_asof_forward_next_click(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = t(spark, sf_dir, "events").where(
        F.col("event_type").isin("click", "purchase")
    )
    tagged = ev.select(
        "event_id",
        "user_id",
        "ts",
        (F.col("event_type") == "purchase").cast("int").alias("is_purchase"),
        F.when(F.col("event_type") == "click", F.col("ts")).alias("click_ts"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.desc("ts"), F.asc("is_purchase"), F.asc("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    carried = tagged.withColumn(
        "next_click", F.last("click_ts", ignorenulls=True).over(w)
    )
    return carried.where(F.col("is_purchase") == 1).select(
        F.col("event_id").alias("purchase_id"),
        F.date_format("next_click", _FMT).alias("next_click_ts"),
    )


# ---------------------------------------------------------------------------
# Funnel conversion: view → click → purchase in strict order per user,
# the whole funnel inside 24 h of the first view. Each stage is a
# grouped MIN re-joined to the next — three aggregations on the same
# user key (the exchanges reuse), never an events×events explosion.
@_q(
    "funnel_conversion",
    """
    WITH v AS (
      SELECT user_id, MIN(ts) AS v_ts FROM events
      WHERE event_type = 'view' GROUP BY user_id
    ),
    c AS (
      SELECT e.user_id, MIN(e.ts) AS c_ts
      FROM events e JOIN v ON v.user_id = e.user_id
      WHERE e.event_type = 'click'
        AND e.ts > v.v_ts AND e.ts <= v.v_ts + INTERVAL 24 HOURS
      GROUP BY e.user_id
    ),
    p AS (
      SELECT e.user_id, MIN(e.ts) AS p_ts
      FROM events e
      JOIN c ON c.user_id = e.user_id
      JOIN v ON v.user_id = e.user_id
      WHERE e.event_type = 'purchase'
        AND e.ts > c.c_ts AND e.ts <= v.v_ts + INTERVAL 24 HOURS
      GROUP BY e.user_id
    )
    SELECT (SELECT COUNT(*) FROM v) AS n_viewed,
           (SELECT COUNT(*) FROM c) AS n_clicked,
           (SELECT COUNT(*) FROM p) AS n_purchased
    """,
)
def q_funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events")
    v = (
        ev.where(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("v_ts"))
    )
    ec = ev.where(F.col("event_type") == "click").select(
        F.col("user_id").alias("cu"), F.col("ts").alias("cts")
    )
    c = (
        ec.join(v, ec["cu"] == v["user_id"])
        .where(
            (F.col("cts") > F.col("v_ts"))
            & (F.col("cts") <= F.col("v_ts") + F.expr("INTERVAL 24 HOURS"))
        )
        .groupBy("cu")
        .agg(F.min("cts").alias("c_ts"))
    )
    ep = ev.where(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("pu"), F.col("ts").alias("pts")
    )
    p = (
        ep.join(c, ep["pu"] == c["cu"])
        .join(v, ep["pu"] == v["user_id"])
        .where(
            (F.col("pts") > F.col("c_ts"))
            & (F.col("pts") <= F.col("v_ts") + F.expr("INTERVAL 24 HOURS"))
        )
        .groupBy("pu")
        .agg(F.min("pts").alias("p_ts"))
    )
    return (
        v.agg(F.count(F.lit(1)).alias("n_viewed"))
        .crossJoin(c.agg(F.count(F.lit(1)).alias("n_clicked")))
        .crossJoin(p.agg(F.count(F.lit(1)).alias("n_purchased")))
    )


# ---------------------------------------------------------------------------
# Cohort retention: users grouped by first-seen day; per cohort, how
# many return in week 1 / week 2. first-seen is one grouped MIN; the
# activity join re-shuffles on the same user key; the conditional
# COUNT(DISTINCT CASE ...) stages are one aggregation pass.
@_q(
    "cohort_retention",
    """
    WITH first_seen AS (
      SELECT user_id, MIN(CAST(ts AS DATE)) AS d0 FROM events GROUP BY user_id
    ),
    activity AS (
      SELECT DISTINCT e.user_id,
             date_diff('day', f.d0, CAST(e.ts AS DATE)) AS dd
      FROM events e JOIN first_seen f ON f.user_id = e.user_id
    )
    SELECT strftime(f.d0, '%Y-%m-%d') AS cohort_day,
           COUNT(DISTINCT f.user_id) AS cohort_size,
           COUNT(DISTINCT CASE WHEN a.dd BETWEEN 7 AND 13
                               THEN a.user_id END) AS retained_w1,
           COUNT(DISTINCT CASE WHEN a.dd BETWEEN 14 AND 20
                               THEN a.user_id END) AS retained_w2
    FROM first_seen f JOIN activity a ON a.user_id = f.user_id
    GROUP BY f.d0
    """,
)
def q_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events")
    first_seen = ev.groupBy("user_id").agg(F.min(F.to_date("ts")).alias("d0"))
    activity = (
        ev.select(F.col("user_id").alias("au"), F.to_date("ts").alias("ad"))
        .join(first_seen, F.col("au") == F.col("user_id"))
        .select("au", F.datediff(F.col("ad"), F.col("d0")).alias("dd"))
        .distinct()
    )
    j = first_seen.join(activity, first_seen["user_id"] == activity["au"])
    return j.groupBy(F.date_format("d0", "yyyy-MM-dd").alias("cohort_day")).agg(
        F.countDistinct("user_id").alias("cohort_size"),
        F.countDistinct(
            F.when(F.col("dd").between(7, 13), F.col("user_id"))
        ).alias("retained_w1"),
        F.countDistinct(
            F.when(F.col("dd").between(14, 20), F.col("user_id"))
        ).alias("retained_w2"),
    )


# ---------------------------------------------------------------------------
# Interval concurrency via the +1/−1 sweep line — the classic
# "maximum simultaneous sessions" algorithm as one union + one
# window cumsum: every interval contributes a +1 at its start and a
# −1 at its end; the running sum ordered by boundary time IS the
# concurrency curve, and its per-type max is the answer. One shuffle
# (the window partition), no interval×interval self-join — the naive
# overlap-join form is quadratic per type. Intervals: [ts, ts + value
# minutes] per event (deterministic from fixture columns). End
# boundaries sort BEFORE coincident starts (delta ascending at equal
# ts), making [a, b] and [b, c] non-overlapping — the half-open
# convention both engines apply identically.
@_q(
    "max_concurrency_sweep",
    """
    WITH bounds AS (
      SELECT event_type, ts AS bt, 1 AS delta FROM events
      UNION ALL
      SELECT event_type,
             ts + to_minutes(CAST(round(value, 0) AS BIGINT)) AS bt,
             -1 AS delta
      FROM events
    ),
    curve AS (
      SELECT event_type,
             SUM(delta) OVER (PARTITION BY event_type
                              ORDER BY bt, delta
                              ROWS UNBOUNDED PRECEDING) AS conc
      FROM bounds
    )
    SELECT event_type, CAST(MAX(conc) AS BIGINT) AS max_concurrent
    FROM curve GROUP BY event_type
    """,
)
def q_max_concurrency_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = t(spark, sf_dir, "events")
    dur = F.round(F.col("value"), 0).cast("bigint")
    starts = ev.select("event_type", F.col("ts").alias("bt"), F.lit(1).alias("delta"))
    ends = ev.select(
        "event_type",
        (F.col("ts") + (dur * F.expr("INTERVAL 1 MINUTE"))).alias("bt"),
        F.lit(-1).alias("delta"),
    )
    bounds = starts.unionByName(ends)
    w = (
        Window.partitionBy("event_type")
        .orderBy(F.asc("bt"), F.asc("delta"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    curve = bounds.withColumn("conc", F.sum("delta").over(w))
    return curve.groupBy("event_type").agg(
        F.max("conc").cast("bigint").alias("max_concurrent")
    )


# ---------------------------------------------------------------------------
# Malformed-record handling — the PERMISSIVE-parse contract: corrupt
# payloads must be COUNTED and quarantined, not crash the job and not
# silently vanish. Fixture corrupts a deterministic subset (truncating
# the closing brace of props where event_id % 7 = 0); classification =
# does the payload parse as a JSON object. Spark: get_json_object
# returns NULL on malformed input (the engine's try-parse);
# DuckDB: json_valid. Both classify truncated JSON identically.
@_q(
    "json_malformed_handling",
    """
    WITH corrupted AS (
      SELECT event_type,
             CASE WHEN event_id % 7 = 0
                  THEN substring(props, 1, length(props) - 1)
                  ELSE props END AS payload
      FROM events
    )
    SELECT event_type,
           CAST(count_if(json_valid(payload)) AS BIGINT) AS n_valid,
           CAST(count_if(NOT json_valid(payload)) AS BIGINT) AS n_malformed
    FROM corrupted
    GROUP BY event_type
    """,
)
def q_json_malformed_handling(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events")
    payload = F.when(
        F.col("event_id") % 7 == 0,
        F.expr("substring(props, 1, length(props) - 1)"),
    ).otherwise(F.col("props"))
    # a payload is valid iff it parses as a JSON object: probe with
    # get_json_object('$') — NULL on malformed input
    valid = F.get_json_object(payload, "$").isNotNull()
    return ev.select("event_type", valid.alias("v")).groupBy("event_type").agg(
        F.count_if(F.col("v")).alias("n_valid"),
        F.count_if(~F.col("v")).alias("n_malformed"),
    )


# ---------------------------------------------------------------------------
# Distinct users per hour — COUNT(DISTINCT) under a time window: the
# two-level expansion (dedup (window, user), then count) is what Spark
# plans for distinct aggregates, and it is exactly the map-side-
# partial-able shape; at 100 TB the HLL sketch variant
# (approx_count_distinct, tests/test_sketches_observe.py) replaces the
# exact expand when 2% error is acceptable.
@_q(
    "window_distinct_users",
    """
    SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS wstart,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
           COUNT(*) AS n_events
    FROM events
    GROUP BY date_trunc('hour', ts)
    """,
)
def q_window_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events")
    return ev.groupBy(
        F.date_format(F.date_trunc("hour", "ts"), "yyyy-MM-dd HH:mm:ss").alias(
            "wstart"
        )
    ).agg(
        F.countDistinct("user_id").alias("n_users"),
        F.count(F.lit(1)).alias("n_events"),
    )


# ---------------------------------------------------------------------------
# Inter-arrival burstiness: per-user gap statistics (mean, CV, and the
# Goh-Barabasi burstiness B = (sigma - mu)/(sigma + mu) in [-1, 1]:
# -1 periodic, 0 Poisson, ->1 bursty). Gaps are exact integer seconds
# from consecutive events (one lag window per user); moments are
# integer power sums, so everything up to the final sqrt/ratio is
# order-independent. The per-user shape makes the whole query
# embarrassingly parallel over users at 100 TB.
@_q(
    "interarrival_burstiness",
    """
    WITH gaps AS (
      SELECT user_id,
             CAST(epoch_ms(ts) - lag(epoch_ms(ts)) OVER
                  (PARTITION BY user_id ORDER BY ts, event_id) AS BIGINT)
               AS gap_ms
      FROM events
    ), m AS (
      SELECT user_id, COUNT(gap_ms) AS n,
             SUM(gap_ms) AS s1,
             SUM(CAST(gap_ms AS DECIMAL(38,0)) * gap_ms) AS s2
      FROM gaps WHERE gap_ms IS NOT NULL
      GROUP BY user_id HAVING COUNT(gap_ms) >= 2
    )
    SELECT user_id, CAST(n AS BIGINT) AS n_gaps,
           round(CAST(s1 AS DOUBLE) / n / 1000.0, 6) AS mean_gap_s,
           round(sqrt((CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * s1 / n)
                      / (n - 1)) / (CAST(s1 AS DOUBLE) / n), 6) AS cv,
           round((sqrt((CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * s1 / n)
                       / (n - 1)) - CAST(s1 AS DOUBLE) / n)
                 / (sqrt((CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * s1 / n)
                         / (n - 1)) + CAST(s1 AS DOUBLE) / n), 6)
             AS burstiness
    FROM m
    """,
)
def q_interarrival_burstiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # truncate to ms PER TIMESTAMP (matching epoch_ms) before the
    # diff — truncating the difference of fractional ms instead
    # shifts gaps by up to 1 ms
    ms = F.floor(F.unix_micros(F.col("ts").cast("timestamp")) / 1000).cast(
        "bigint"
    )
    gaps = ev.select(
        "user_id",
        (ms - F.lag(ms).over(w)).alias("gap_ms"),
    ).where(F.col("gap_ms").isNotNull())
    m = (
        gaps.groupBy("user_id")
        .agg(
            F.count("gap_ms").alias("n"),
            F.sum("gap_ms").alias("s1"),
            F.sum(F.col("gap_ms").cast("decimal(38,0)") * F.col("gap_ms")).alias(
                "s2"
            ),
        )
        .where(F.col("n") >= 2)
    )
    mu = F.col("s1").cast("double") / F.col("n")
    sd = F.sqrt(
        (F.col("s2").cast("double") - F.col("s1").cast("double") * F.col("s1") / F.col("n"))
        / (F.col("n") - 1)
    )
    return m.select(
        "user_id",
        F.col("n").cast("bigint").alias("n_gaps"),
        F.round(mu / 1000.0, 6).alias("mean_gap_s"),
        F.round(sd / mu, 6).alias("cv"),
        F.round((sd - mu) / (sd + mu), 6).alias("burstiness"),
    )


# ---------------------------------------------------------------------------
# Time-weighted average (TWAP / time-in-state mean): each event's
# value holds until the next event of the same user, so the mean is
# Σ(value·dwell_ms)/Σ(dwell_ms) — the correct average for sampled
# state (a plain AVG overweights bursts). Dwell times are exact
# integer ms from one lead window; value·dwell products are
# DECIMAL(38,2)-exact (2-dp value × integer ms), so the whole
# aggregation is order-independent. Last event per user has no dwell
# and is excluded (open interval), the standard TWAP convention.
@_q(
    "time_weighted_average",
    """
    WITH d AS (
      SELECT user_id,
             CAST(round(value, 2) AS DECIMAL(18,2)) AS v,
             lead(epoch_ms(ts)) OVER (PARTITION BY user_id
                                      ORDER BY ts, event_id)
               - epoch_ms(ts) AS dwell_ms
      FROM events
    )
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT) AS n_intervals,
           CAST(SUM(dwell_ms) AS BIGINT) AS total_ms,
           round(CAST(SUM(v * dwell_ms) AS DOUBLE) / SUM(dwell_ms), 6)
             AS twap,
           round(CAST(SUM(v) AS DOUBLE) / COUNT(*), 6) AS plain_avg
    FROM d WHERE dwell_ms IS NOT NULL
    GROUP BY user_id
    """,
)
def q_time_weighted_average(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ms = F.floor(F.unix_micros(F.col("ts").cast("timestamp")) / 1000).cast(
        "bigint"
    )
    d = ev.select(
        "user_id",
        F.round("value", 2).cast("decimal(18,2)").alias("v"),
        (F.lead(ms).over(w) - ms).alias("dwell_ms"),
    ).where(F.col("dwell_ms").isNotNull())
    return d.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_intervals"),
        F.sum("dwell_ms").cast("bigint").alias("total_ms"),
        F.round(
            F.sum(F.col("v") * F.col("dwell_ms")).cast("double")
            / F.sum("dwell_ms"),
            6,
        ).alias("twap"),
        F.round(F.sum("v").cast("double") / F.count(F.lit(1)), 6).alias(
            "plain_avg"
        ),
    )


# ---------------------------------------------------------------------------
# Interval-union coverage: each event opens a 5-minute activity
# interval; overlapping intervals merge (gaps-and-islands via the
# running max of interval ends) and the report is per-user covered
# time — "how long was the user actually active" as opposed to
# event counts. Island detection is one window pass on integer ms;
# at 100 TB it parallelizes over users like every per-user window
# here.
_COVER_MS = 300_000  # 5 minutes


@_q(
    "interval_union_coverage",
    f"""
    WITH iv AS (
      -- DISTINCT: equal-timestamp duplicates are coverage no-ops and
      -- expose the two-window tie-order hazard (islands can split when
      -- the second window's sort permutes duplicate rows; seen in the
      -- DuckDB scanline twins at sf0.1)
      SELECT DISTINCT user_id, epoch_ms(ts) AS s,
             epoch_ms(ts) + {_COVER_MS} AS e
      FROM events
    ), flagged AS (
      SELECT user_id, s, e,
             CASE WHEN s > COALESCE(max(e) OVER (
                    PARTITION BY user_id ORDER BY s
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1)
                  THEN 1 ELSE 0 END AS new_island
      FROM iv
    ), islands AS (
      SELECT user_id, s, e,
             SUM(new_island) OVER (PARTITION BY user_id ORDER BY s
                                   ROWS UNBOUNDED PRECEDING) AS island_id
      FROM flagged
    ), merged AS (
      SELECT user_id, island_id, min(s) AS ms, max(e) AS me
      FROM islands GROUP BY user_id, island_id
    )
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT) AS n_islands,
           CAST(SUM(me - ms) AS BIGINT) AS covered_ms
    FROM merged GROUP BY user_id
    """,
)
def q_interval_union_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events")
    ms = F.floor(F.unix_micros(F.col("ts").cast("timestamp")) / 1000).cast(
        "bigint"
    )
    # distinct: tie-order hazard, see the oracle comment
    iv = ev.select(
        "user_id", ms.alias("s"), (ms + _COVER_MS).alias("e")
    ).distinct()
    wprev = (
        Window.partitionBy("user_id")
        .orderBy("s")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    flagged = iv.withColumn(
        "new_island",
        F.when(
            F.col("s") > F.coalesce(F.max("e").over(wprev), F.lit(-1)), 1
        ).otherwise(0),
    )
    wcum = (
        Window.partitionBy("user_id")
        .orderBy("s")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    islands = flagged.withColumn("island_id", F.sum("new_island").over(wcum))
    merged = islands.groupBy("user_id", "island_id").agg(
        F.min("s").alias("ms"), F.max("e").alias("me")
    )
    return merged.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_islands"),
        F.sum(F.col("me") - F.col("ms")).cast("bigint").alias("covered_ms"),
    )


# ---------------------------------------------------------------------------
# Abandoned-session detection — the ANTI interval join (the missing
# quadrant next to interval_join_click_purchase's inner form): views
# with NO purchase by the same user within the following hour. The
# anti form plans as a NOT-EXISTS range probe on the (user) equi-key;
# only per-user event slices meet, never a time cross product. Report
# rolls abandonment rate up per event hour — exact integer ratios.
@_q(
    "abandoned_session_detection",
    """
    WITH views AS (
      SELECT user_id, ts FROM events WHERE event_type = 'view'
    ),
    purchases AS (
      SELECT user_id, ts FROM events WHERE event_type = 'purchase'
    ),
    flagged AS (
      SELECT v.user_id, v.ts,
             NOT EXISTS (
               SELECT 1 FROM purchases p
               WHERE p.user_id = v.user_id
                 AND p.ts >= v.ts
                 AND p.ts < v.ts + INTERVAL 1 HOUR
             ) AS abandoned
      FROM views v
    )
    SELECT CAST(date_part('hour', ts) AS INT) AS event_hour,
           CAST(COUNT(*) AS BIGINT) AS n_views,
           CAST(SUM(CASE WHEN abandoned THEN 1 ELSE 0 END) AS BIGINT)
             AS n_abandoned,
           round(CAST(SUM(CASE WHEN abandoned THEN 1 ELSE 0 END) AS DOUBLE)
                 / COUNT(*), 6) AS abandon_rate
    FROM flagged GROUP BY 1 ORDER BY event_hour
    """,
)
def q_abandoned_session_detection(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    ev = t(spark, sf_dir, "events")
    views = ev.where(F.col("event_type") == "view").select("user_id", "ts")
    purch = ev.where(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_uid"), F.col("ts").alias("p_ts")
    )
    followed = views.join(
        purch,
        (F.col("user_id") == F.col("p_uid"))
        & (F.col("p_ts") >= F.col("ts"))
        & (F.col("p_ts") < F.col("ts") + F.expr("INTERVAL 1 HOUR")),
        "left_semi",
    ).select("user_id", "ts", F.lit(False).alias("abandoned"))
    abandoned = views.join(
        purch,
        (F.col("user_id") == F.col("p_uid"))
        & (F.col("p_ts") >= F.col("ts"))
        & (F.col("p_ts") < F.col("ts") + F.expr("INTERVAL 1 HOUR")),
        "left_anti",
    ).select("user_id", "ts", F.lit(True).alias("abandoned"))
    flagged = followed.unionByName(abandoned)
    return (
        flagged.groupBy(F.hour("ts").cast("int").alias("event_hour"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_views"),
            F.sum(F.when(F.col("abandoned"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_abandoned"),
        )
        .select(
            "event_hour",
            "n_views",
            "n_abandoned",
            F.round(
                F.col("n_abandoned").cast("double") / F.col("n_views"), 6
            ).alias("abandon_rate"),
        )
        .orderBy("event_hour")
    )


# ---------------------------------------------------------------------------
# Allen's interval-algebra census (Allen, CACM 1983): classify every
# per-user (click-interval, purchase-interval) pair into the 13
# qualitative temporal relations — before/meets/overlaps/starts/
# during/finishes, their inverses, and equals — the vocabulary
# temporal reasoners and process-mining conformance checks speak.
# Intervals are [ts, ts + value minutes + 1s] on the integer
# microsecond lattice (strictly positive, like the scheduling DP), so
# every boundary comparison is exact. Pairing is per-user (the equi-
# key bounds the pair fan-out at per-user activity, linear in users);
# the relation is ONE nested CASE over the four endpoints — pure
# Catalyst, no UDF. Output: census counts per relation.
def _allen_case(s1: str, e1: str, s2: str, e2: str) -> str:
    return f"""CASE
      WHEN {e1} < {s2} THEN 'before'
      WHEN {e2} < {s1} THEN 'after'
      WHEN {e1} = {s2} THEN 'meets'
      WHEN {e2} = {s1} THEN 'met_by'
      WHEN {s1} = {s2} AND {e1} = {e2} THEN 'equals'
      WHEN {s1} = {s2} AND {e1} < {e2} THEN 'starts'
      WHEN {s1} = {s2} THEN 'started_by'
      WHEN {e1} = {e2} AND {s1} > {s2} THEN 'finishes'
      WHEN {e1} = {e2} THEN 'finished_by'
      WHEN {s1} > {s2} AND {e1} < {e2} THEN 'during'
      WHEN {s1} < {s2} AND {e1} > {e2} THEN 'contains'
      WHEN {s1} < {s2} THEN 'overlaps'
      ELSE 'overlapped_by' END"""


@_q(
    "allen_interval_census",
    f"""
    WITH iv AS (
      SELECT user_id, event_type, epoch_us(ts) AS s,
             epoch_us(ts) + (CAST(round(value * 60) AS BIGINT) + 1) * 1000000
               AS e
      FROM events WHERE event_type IN ('click', 'purchase')
    )
    SELECT {_allen_case('c.s', 'c.e', 'p.s', 'p.e')} AS relation,
           CAST(COUNT(*) AS BIGINT) AS n_pairs
    FROM iv c JOIN iv p
      ON p.user_id = c.user_id
     AND c.event_type = 'click' AND p.event_type = 'purchase'
    GROUP BY relation ORDER BY relation
    """,
)
def q_allen_interval_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events")
    s = F.unix_micros(F.col("ts"))
    iv = ev.where(F.col("event_type").isin("click", "purchase")).select(
        "user_id",
        "event_type",
        s.alias("s"),
        (s + (F.round(F.col("value") * 60).cast("bigint") + 1) * 1000000).alias(
            "e"
        ),
    )
    c = iv.where(F.col("event_type") == "click").select(
        F.col("user_id").alias("cu"), F.col("s").alias("cs"), F.col("e").alias("ce")
    )
    p = iv.where(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("pu"), F.col("s").alias("ps"), F.col("e").alias("pe")
    )
    cs, ce, ps, pe = F.col("cs"), F.col("ce"), F.col("ps"), F.col("pe")
    rel = (
        F.when(ce < ps, "before")
        .when(pe < cs, "after")
        .when(ce == ps, "meets")
        .when(pe == cs, "met_by")
        .when((cs == ps) & (ce == pe), "equals")
        .when((cs == ps) & (ce < pe), "starts")
        .when(cs == ps, "started_by")
        .when((ce == pe) & (cs > ps), "finishes")
        .when(ce == pe, "finished_by")
        .when((cs > ps) & (ce < pe), "during")
        .when((cs < ps) & (ce > pe), "contains")
        .when(cs < ps, "overlaps")
        .otherwise("overlapped_by")
    )
    return (
        c.join(p, F.col("pu") == F.col("cu"))
        .groupBy(rel.alias("relation"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_pairs"))
        .orderBy("relation")
    )


# ---------------------------------------------------------------------------
# HMM Viterbi decoding, EXACT — classify each user's journey (first
# 16 events) as ending 'engaged' vs 'error_prone' under a fixed
# 2-state hidden Markov model. The trick that makes Viterbi
# oracle-able: every probability is a RATIONAL with denominator 10
# (rows of the transition and emission tables sum to 10), and all
# Viterbi paths of equal length share the same denominator — so the
# max-product recursion runs on integer NUMERATORS in decimal(38,0)
# (32^16 < 1e24, far under the width cap) and the argmax is an exact
# integer comparison, no logs, no floats. The DP is one fold per user
# carrying the 2-state score vector (the DTW/LCS engine); model
# tables are compiled into the fold as literals. Ties decode as
# 'engaged' in both engines.
_VITERBI_LEN = 16


def _sql_viterbi() -> str:
    return f"""
    WITH ranked AS (
      SELECT user_id, event_type AS e,
             row_number() OVER (PARTITION BY user_id ORDER BY event_id) AS rn
      FROM events
    ),
    ser AS (
      SELECT user_id, list(e ORDER BY rn) AS s
      FROM ranked WHERE rn <= {_VITERBI_LEN} GROUP BY user_id
    ),
    dec AS (
      SELECT user_id,
        list_reduce(
          [[CAST(5 AS DECIMAL(38,0)), CAST(5 AS DECIMAL(38,0))]]
            || list_transform(s, e -> [
                 CAST(CASE e WHEN 'click' THEN 3 WHEN 'view' THEN 3
                             WHEN 'purchase' THEN 3 WHEN 'error' THEN 1
                             ELSE 0 END AS DECIMAL(38,0)),
                 CAST(CASE e WHEN 'error' THEN 5 WHEN 'purchase' THEN 2
                             ELSE 1 END AS DECIMAL(38,0))]),
          (acc, em) -> [
            em[1] * greatest(acc[1] * 8, acc[2] * 3),
            em[2] * greatest(acc[1] * 2, acc[2] * 7)
          ]
        ) AS v
      FROM ser
    )
    SELECT CASE WHEN v[1] >= v[2] THEN 'engaged'
                ELSE 'error_prone' END AS final_state,
           CAST(COUNT(*) AS BIGINT) AS n_users
    FROM dec GROUP BY 1 ORDER BY final_state
    """


@_q("hmm_viterbi_journey", _sql_viterbi())
def q_hmm_viterbi_journey(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events")
    from pyspark.sql import Window as W

    w = W.partitionBy("user_id").orderBy("event_id")
    ranked = ev.select(
        "user_id",
        F.col("event_type").alias("e"),
        F.row_number().over(w).alias("rn"),
    ).where(F.col("rn") <= _VITERBI_LEN)
    ser = ranked.groupBy("user_id").agg(
        F.transform(
            F.sort_array(F.collect_list(F.struct("rn", "e"))), lambda x: x["e"]
        ).alias("s")
    )
    dec0 = F.lit(5).cast("decimal(38,0)")

    def em_e(e):
        return (
            F.when(e.isin("click", "view", "purchase"), 3)
            .when(e == "error", 1)
            .otherwise(0)
            .cast("decimal(38,0)")
        )

    def em_c(e):
        return (
            F.when(e == "error", 5)
            .when(e == "purchase", 2)
            .otherwise(1)
            .cast("decimal(38,0)")
        )

    v = F.aggregate(
        F.col("s"),
        F.array(dec0, dec0),
        lambda acc, e: F.array(
            em_e(e)
            * F.greatest(
                F.element_at(acc, 1) * 8, F.element_at(acc, 2) * 3
            ),
            em_c(e)
            * F.greatest(
                F.element_at(acc, 1) * 2, F.element_at(acc, 2) * 7
            ),
        ),
    )
    return (
        ser.select(
            F.when(
                F.element_at(v, 1) >= F.element_at(v, 2), "engaged"
            )
            .otherwise("error_prone")
            .alias("final_state")
        )
        .groupBy("final_state")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_users"))
        .orderBy("final_state")
    )
