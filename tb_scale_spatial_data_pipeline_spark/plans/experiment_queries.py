"""Experimentation and iterative-algorithm queries: hash-bucketed A/B
assignment with a two-proportion z-test, k-core decomposition by
iterative peeling, and exact distributed median via domain bisection
(no global sort).

Scale notes (100 TB):
- A/B analysis: assignment is a pure hash of the unit id (no
  assignment table to join), conversion is one aggregate per arm,
  and the z-test runs on four integers — the whole analysis moves
  eight numbers to the driver.
- k-core: each peel round is one degree aggregation + one semi-join;
  round count is the core number of the graph, not |V|. The oracle
  unrolls the same peel as chained CTEs, so the hash match proves the
  iterative fixpoint.
- Bisection median: O(log(range/eps)) passes each computing ONE
  count(value <= mid) — at 100 TB this replaces a full sort with ~40
  scans that all pushdown-prune, the classic "median without
  shuffling the lake" pattern. The oracle is DuckDB's exact median.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators.graphs import co_occurrence_pairs, directed_edges, md5_thin
from ..operators.spread import counted_checkpoint
from ._util import t, registry

QUERIES, ORACLES, _q = registry()


# ---------------------------------------------------------------------------
# A/B experiment readout: users hash into control/treatment by md5
# parity; "conversion" = user has >= 1 purchase event. Two-proportion
# pooled z-test on exact integer counts, one float expression.
@_q(
    "ab_experiment_analysis",
    """
    WITH assign AS (
      SELECT DISTINCT user_id,
             CASE WHEN CAST(('0x' || substring(md5(CAST(user_id AS VARCHAR)), 1, 4))
                        AS INTEGER) % 2 = 0
                  THEN 'control' ELSE 'treatment' END AS arm
      FROM events
    ), conv AS (
      -- high-value conversion: plain 'any purchase' saturates to 100%
      -- on this fixture (every active user buys), which degenerates
      -- lift to 0 and the pooled z to 0/0
      SELECT DISTINCT user_id FROM events
      WHERE event_type = 'purchase' AND value > 150
    ), arms AS (
      SELECT a.arm, COUNT(*) AS n_users,
             COUNT(c.user_id) AS n_converted
      FROM assign a LEFT JOIN conv c ON c.user_id = a.user_id
      GROUP BY a.arm
    ), w AS (
      SELECT
        max(CASE WHEN arm = 'control' THEN n_users END) AS n1,
        max(CASE WHEN arm = 'control' THEN n_converted END) AS x1,
        max(CASE WHEN arm = 'treatment' THEN n_users END) AS n2,
        max(CASE WHEN arm = 'treatment' THEN n_converted END) AS x2
      FROM arms
    )
    SELECT CAST(n1 AS BIGINT) AS n1, CAST(x1 AS BIGINT) AS x1,
           CAST(n2 AS BIGINT) AS n2, CAST(x2 AS BIGINT) AS x2,
           round(CAST(x1 AS DOUBLE) / n1 - CAST(x2 AS DOUBLE) / n2, 6) AS lift,
           round((CAST(x1 AS DOUBLE) / n1 - CAST(x2 AS DOUBLE) / n2)
                 / sqrt((CAST(x1 + x2 AS DOUBLE) / (n1 + n2))
                        * (1 - CAST(x1 + x2 AS DOUBLE) / (n1 + n2))
                        * (1.0 / n1 + 1.0 / n2)), 6) AS z_score
    FROM w
    """,
)
def q_ab_experiment_analysis(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events")
    arm = F.when(
        F.conv(F.substring(F.md5(F.col("user_id").cast("string")), 1, 4), 16, 10)
        .cast("int")
        % 2
        == 0,
        "control",
    ).otherwise("treatment")
    assign = ev.select("user_id").distinct().withColumn("arm", arm)
    conv = (
        ev.where((F.col("event_type") == "purchase") & (F.col("value") > 150))
        .select(F.col("user_id").alias("cu"))
        .distinct()
    )
    arms = (
        assign.join(conv, assign.user_id == conv.cu, "left")
        .groupBy("arm")
        .agg(
            F.count("*").alias("n_users"),
            F.count("cu").alias("n_converted"),
        )
    )
    def pick(col, a):
        return F.max(F.when(F.col("arm") == a, F.col(col)))
    w = arms.agg(
        pick("n_users", "control").alias("n1"),
        pick("n_converted", "control").alias("x1"),
        pick("n_users", "treatment").alias("n2"),
        pick("n_converted", "treatment").alias("x2"),
    )
    n1, x1 = F.col("n1"), F.col("x1")
    n2, x2 = F.col("n2"), F.col("x2")
    p1 = x1.cast("double") / n1
    p2 = x2.cast("double") / n2
    pp = (x1 + x2).cast("double") / (n1 + n2)
    z = (p1 - p2) / F.sqrt(pp * (1 - pp) * (1.0 / n1 + 1.0 / n2))
    return w.select(
        n1.cast("bigint").alias("n1"),
        x1.cast("bigint").alias("x1"),
        n2.cast("bigint").alias("n2"),
        x2.cast("bigint").alias("x2"),
        F.round(p1 - p2, 6).alias("lift"),
        F.round(z, 6).alias("z_score"),
    )


# ---------------------------------------------------------------------------
# k-core decomposition (k=2) by iterative peeling: repeatedly drop
# nodes with degree < k until fixpoint. Graph = customer co-purchase
# (customers sharing a part), md5-sampled to 1% so the peel actually
# removes nodes at BOTH fixture scales (124→59 at sf0.001, 1496→1478
# at sf0.01; the denser co-supplier graph is all-or-nothing). The
# oracle unrolls the same peel a fixed number of rounds (fixpoint by
# round 4 on the fixture; the Spark loop asserts convergence).
_KCORE_K = 2
_KCORE_ROUNDS = 8
_KCORE_THR = 655

# MATERIALIZED: each unrolled peel round references `edges` — without
# it DuckDB re-inlines the whole self-join pipeline per round (the
# same lesson as the CC oracle, text_queries._sql_dup_clusters).
_SQL_EDGE_BASE = f"""
    cp AS MATERIALIZED (
      SELECT DISTINCT o.o_custkey AS c, l.l_partkey AS p
      FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    ),
    e0 AS MATERIALIZED (
      SELECT DISTINCT a.c AS u, b.c AS v
      FROM cp a JOIN cp b ON a.p = b.p AND a.c < b.c
    ),
    eu AS MATERIALIZED (
      SELECT u, v FROM e0
      WHERE CAST(('0x' || substring(md5(CAST(u * 100000 + v AS VARCHAR)), 1, 4))
                 AS INTEGER) < {_KCORE_THR}
    ),
    edges AS MATERIALIZED (SELECT u AS src, v AS dst FROM eu
              UNION ALL SELECT v AS src, u AS dst FROM eu)
"""


def _sql_kcore() -> str:
    k = _KCORE_K
    ctes = [
        _SQL_EDGE_BASE.strip(),
        "n0 AS (SELECT DISTINCT src AS node FROM edges)",
    ]
    for r in range(_KCORE_ROUNDS):
        # MATERIALIZED: n{r} is referenced twice per round — inlining
        # would re-derive every earlier round 2^rounds times
        ctes.append(
            f"""n{r + 1} AS MATERIALIZED (
      SELECT e.src AS node FROM edges e
      JOIN n{r} a ON a.node = e.src
      JOIN n{r} b ON b.node = e.dst
      GROUP BY e.src HAVING COUNT(*) >= {k}
    )"""
        )
    return (
        "WITH "
        + ",\n    ".join(ctes)
        + f"""
    SELECT node AS c_custkey FROM n{_KCORE_ROUNDS}"""
    )


@_q("kcore_decomposition", _sql_kcore())
def q_kcore_decomposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    cp = (
        orders.join(li, orders.o_orderkey == li.l_orderkey)
        .select(F.col("o_custkey").alias("c"), F.col("l_partkey").alias("p"))
        .distinct()
    )
    eu = co_occurrence_pairs(cp, "p", "c").where(md5_thin(100000, _KCORE_THR))
    edges, _ = directed_edges(eu)
    alive, n_alive = counted_checkpoint(
        edges.select(F.col("src").alias("node")).distinct()
    )
    for _ in range(_KCORE_ROUNDS):
        # peeling only shrinks the set: an unchanged count is the fixpoint
        alive, n_surviving = counted_checkpoint(
            edges.join(alive.withColumnRenamed("node", "src"), "src")
            .join(alive.withColumnRenamed("node", "dst"), "dst")
            .groupBy("src")
            .agg(F.count("*").alias("deg"))
            .where(F.col("deg") >= _KCORE_K)
            .select(F.col("src").alias("node"))
        )
        if n_surviving == n_alive:
            break
        n_alive = n_surviving
    else:
        raise RuntimeError(
            f"k-core peel did not converge in {_KCORE_ROUNDS} rounds"
        )
    return alive.select(F.col("node").alias("c_custkey"))


# ---------------------------------------------------------------------------
# Exact median WITHOUT a global sort: bisect the value domain, each
# step one count(v <= mid) aggregate. Terminates when the bracket
# pins the k-th order statistic, then one bounded scan retrieves the
# exact value. Oracle: DuckDB's median (odd fixture counts make it an
# actual data value; the even case takes lower-mid to stay exact).
@_q(
    "bisection_median",
    """
    WITH v AS (SELECT o_totalprice AS x FROM orders),
    n AS (SELECT COUNT(*) AS n FROM v),
    k AS (SELECT (n + 1) // 2 AS k FROM n)
    SELECT CAST((SELECT n FROM n) AS BIGINT) AS n,
           (SELECT min(x) FROM (
              SELECT x, row_number() OVER (ORDER BY x) AS rn FROM v
            ) WHERE rn = (SELECT k FROM k)) AS median_value
    """,
)
def q_bisection_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = t(spark, sf_dir, "orders")
    vals = orders.select(F.col("o_totalprice").alias("x"))
    n = vals.count()
    k = (n + 1) // 2
    lo_hi = vals.agg(F.min("x"), F.max("x")).collect()[0]
    lo, hi = float(lo_hi[0]), float(lo_hi[1])
    # bisect until the bracket is small, then resolve exactly from the
    # (tiny) remaining candidate set — total passes O(log range)
    # bracket below half the data's 0.01 quantum: at most one distinct
    # 2-dp value remains in (lo, hi] — ~27 passes instead of 40
    for _ in range(40):
        if hi - lo < 0.005:
            break
        mid = (lo + hi) / 2
        cnt = vals.where(F.col("x") <= mid).count()
        if cnt >= k:
            hi = mid
        else:
            lo = mid
    # exact k-th order statistic = min value > lo-bracket boundary:
    # count(v <= lo) < k <= count(v <= hi) => median is the smallest
    # value in (lo, hi]
    med = (
        vals.where((F.col("x") > lo) & (F.col("x") <= hi))
        .agg(F.min("x").alias("m"))
        .collect()[0][0]
    )
    return (
        orders.sparkSession.createDataFrame(
            [(n, float(med))], "n bigint, median_value double"
        )
    )


# ---------------------------------------------------------------------------
# Kaplan-Meier time-to-first-purchase: per user, origin = first event,
# event = first purchase, right-censored at the last observed event
# for never-purchasers. S(t) = exp(Σ_{t_i <= t} ln(1 - d_i/n_i)) —
# the cumulative window's frame pins the ln-sum order, so the float
# accumulation is engine-identical (the same guarantee every running
# window in the repo relies on). Data reduces to per-distinct-time
# (deaths, at-risk) counts before any float math.
@_q(
    "kaplan_meier_conversion",
    """
    WITH per_user AS (
      SELECT user_id,
             min(ts) AS t0,
             min(CASE WHEN event_type = 'purchase' THEN ts END) AS t_ev,
             max(ts) AS t_last
      FROM events GROUP BY user_id
    ), spells AS (
      SELECT user_id,
             CASE WHEN t_ev IS NOT NULL
                  THEN CAST(date_diff('second', t0, t_ev) AS BIGINT)
                  ELSE CAST(date_diff('second', t0, t_last) AS BIGINT)
             END AS t_sec,
             (t_ev IS NOT NULL) AS observed
      FROM per_user
    ), times AS (
      SELECT t_sec,
             COUNT(*) FILTER (observed) AS d,
             COUNT(*) AS leaving
      FROM spells GROUP BY t_sec
    ), risk AS (
      SELECT t_sec, d,
             SUM(leaving) OVER (ORDER BY t_sec DESC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS n_risk
      FROM times
    )
    SELECT CAST(t_sec AS BIGINT) AS t_sec,
           CAST(n_risk AS BIGINT) AS n_risk,
           CAST(d AS BIGINT) AS n_events,
           -- terminal time may have d = n_risk (survival hits exact 0):
           -- keep ln() off that row and zero via the cumulative flag
           CASE WHEN SUM(CASE WHEN d = n_risk THEN 1 ELSE 0 END)
                     OVER (ORDER BY t_sec
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) > 0
                THEN 0.0
                ELSE round(exp(SUM(CASE WHEN d = n_risk THEN 0.0
                                        ELSE ln(1.0 - CAST(d AS DOUBLE) / n_risk)
                                   END)
                     OVER (ORDER BY t_sec
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
                 6) END AS survival
    FROM risk WHERE d > 0
    """,
)
def q_kaplan_meier_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(
        F.min("ts").alias("t0"),
        F.min(F.when(F.col("event_type") == "purchase", F.col("ts"))).alias(
            "t_ev"
        ),
        F.max("ts").alias("t_last"),
    )
    t_end = F.coalesce(F.col("t_ev"), F.col("t_last"))
    spells = per_user.select(
        (
            F.unix_timestamp(t_end) - F.unix_timestamp(F.col("t0"))
        ).cast("bigint").alias("t_sec"),
        F.col("t_ev").isNotNull().alias("observed"),
    )
    times = spells.groupBy("t_sec").agg(
        F.sum(F.when(F.col("observed"), 1).otherwise(0)).alias("d"),
        F.count("*").alias("leaving"),
    )
    w_desc = Window.orderBy(F.desc("t_sec")).rowsBetween(
        Window.unboundedPreceding, 0
    )
    risk = times.select(
        "t_sec", "d", F.sum("leaving").over(w_desc).alias("n_risk")
    )
    w_asc = Window.orderBy("t_sec").rowsBetween(Window.unboundedPreceding, 0)
    hit_zero = (
        F.sum(
            F.when(F.col("d") == F.col("n_risk"), 1).otherwise(0)
        ).over(w_asc)
        > 0
    )
    surv = F.when(hit_zero, F.lit(0.0)).otherwise(
        F.round(
            F.exp(
                F.sum(
                    F.when(F.col("d") == F.col("n_risk"), F.lit(0.0)).otherwise(
                        F.log(1.0 - F.col("d").cast("double") / F.col("n_risk"))
                    )
                ).over(w_asc)
            ),
            6,
        )
    )
    return (
        risk.withColumn("survival", surv)
        .where(F.col("d") > 0)
        .select(
            F.col("t_sec").cast("bigint").alias("t_sec"),
            F.col("n_risk").cast("bigint").alias("n_risk"),
            F.col("d").cast("bigint").alias("n_events"),
            "survival",
        )
    )


# ---------------------------------------------------------------------------
# Nelson-Aalen cumulative hazard over the same spells as the
# Kaplan-Meier query: H(t) = Σ_{t_i <= t} d_i / n_i, with the
# Fleming-Harrington survival exp(-H) (the KM alternative that
# behaves better at small risk sets) and the standard variance
# Σ d_i / n_i². Same determinism contract as KM: data reduces to
# per-distinct-time integer (d, n_risk) pairs BEFORE any float; the
# cumulative window's frame pins the summation order, so the float
# accumulation is engine-identical. The window runs over the reduced
# per-distinct-time table (bounded by |distinct spell lengths|),
# never the raw events.
@_q(
    "nelson_aalen_hazard",
    """
    WITH per_user AS (
      SELECT user_id,
             min(ts) AS t0,
             min(CASE WHEN event_type = 'purchase' THEN ts END) AS t_ev,
             max(ts) AS t_last
      FROM events GROUP BY user_id
    ), spells AS (
      SELECT user_id,
             CASE WHEN t_ev IS NOT NULL
                  THEN CAST(date_diff('second', t0, t_ev) AS BIGINT)
                  ELSE CAST(date_diff('second', t0, t_last) AS BIGINT)
             END AS t_sec,
             (t_ev IS NOT NULL) AS observed
      FROM per_user
    ), times AS (
      SELECT t_sec,
             COUNT(*) FILTER (observed) AS d,
             COUNT(*) AS leaving
      FROM spells GROUP BY t_sec
    ), risk AS (
      SELECT t_sec, d,
             SUM(leaving) OVER (ORDER BY t_sec DESC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS n_risk
      FROM times
    )
    SELECT CAST(t_sec AS BIGINT) AS t_sec,
           CAST(n_risk AS BIGINT) AS n_risk,
           CAST(d AS BIGINT) AS n_events,
           round(SUM(CAST(d AS DOUBLE) / n_risk)
                 OVER (ORDER BY t_sec
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
                 6) AS cum_hazard,
           round(exp(-SUM(CAST(d AS DOUBLE) / n_risk)
                 OVER (ORDER BY t_sec
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
                 6) AS fh_survival,
           round(SUM(CAST(d AS DOUBLE) / (CAST(n_risk AS DOUBLE) * n_risk))
                 OVER (ORDER BY t_sec
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
                 6) AS hazard_var
    FROM risk WHERE d > 0
    """,
)
def q_nelson_aalen_hazard(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(
        F.min("ts").alias("t0"),
        F.min(F.when(F.col("event_type") == "purchase", F.col("ts"))).alias(
            "t_ev"
        ),
        F.max("ts").alias("t_last"),
    )
    t_end = F.coalesce(F.col("t_ev"), F.col("t_last"))
    spells = per_user.select(
        (F.unix_timestamp(t_end) - F.unix_timestamp(F.col("t0")))
        .cast("bigint")
        .alias("t_sec"),
        F.col("t_ev").isNotNull().alias("observed"),
    )
    times = spells.groupBy("t_sec").agg(
        F.sum(F.when(F.col("observed"), 1).otherwise(0)).alias("d"),
        F.count("*").alias("leaving"),
    )
    w_desc = Window.orderBy(F.desc("t_sec")).rowsBetween(
        Window.unboundedPreceding, 0
    )
    risk = times.select(
        "t_sec", "d", F.sum("leaving").over(w_desc).alias("n_risk")
    )
    w_asc = Window.orderBy("t_sec").rowsBetween(Window.unboundedPreceding, 0)
    haz_term = F.col("d").cast("double") / F.col("n_risk")
    var_term = F.col("d").cast("double") / (
        F.col("n_risk").cast("double") * F.col("n_risk")
    )
    cum_h = F.sum(haz_term).over(w_asc)
    return (
        risk.select(
            "t_sec",
            "d",
            "n_risk",
            F.round(cum_h, 6).alias("cum_hazard"),
            F.round(F.exp(-cum_h), 6).alias("fh_survival"),
            F.round(F.sum(var_term).over(w_asc), 6).alias("hazard_var"),
        )
        .where(F.col("d") > 0)
        .select(
            F.col("t_sec").cast("bigint").alias("t_sec"),
            F.col("n_risk").cast("bigint").alias("n_risk"),
            F.col("d").cast("bigint").alias("n_events"),
            "cum_hazard",
            "fh_survival",
            "hazard_var",
        )
    )


# ---------------------------------------------------------------------------
# McNemar's paired test (McNemar 1947) — the model-comparison test the
# A/B z-test can't do: same rows, two classifiers, only the DISCORDANT
# pairs carry signal. Rule models A (price > 150k predicts urgent) and
# B (price > 100k AND status 'F') predict high priority per order;
# b = A right & B wrong, c = B right & A wrong; χ² = (b−c)²/(b+c).
# One scan, four exact integers to the driver, one division.
@_q(
    "mcnemar_paired_models",
    """
    WITH p AS (
      SELECT CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                  THEN 1 ELSE 0 END AS y,
             CASE WHEN o_totalprice > 150000 THEN 1 ELSE 0 END AS a,
             CASE WHEN o_totalprice > 100000 AND o_orderstatus = 'F'
                  THEN 1 ELSE 0 END AS b
      FROM orders
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CASE WHEN a = y AND b <> y THEN 1 ELSE 0 END)
                AS BIGINT) AS b_only_a_right,
           CAST(SUM(CASE WHEN b = y AND a <> y THEN 1 ELSE 0 END)
                AS BIGINT) AS c_only_b_right,
           round(CAST(POWER(SUM(CASE WHEN a = y AND b <> y THEN 1 ELSE 0 END)
                            - SUM(CASE WHEN b = y AND a <> y THEN 1 ELSE 0 END),
                            2) AS DOUBLE)
                 / NULLIF(SUM(CASE WHEN a = y AND b <> y THEN 1 ELSE 0 END)
                          + SUM(CASE WHEN b = y AND a <> y THEN 1 ELSE 0 END),
                          0), 6) AS mcnemar_chi2
    FROM p
    """,
)
def q_mcnemar_paired_models(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = t(spark, sf_dir, "orders")
    y = F.when(
        F.col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1
    ).otherwise(0)
    a = F.when(F.col("o_totalprice") > 150000, 1).otherwise(0)
    b = F.when(
        (F.col("o_totalprice") > 100000) & (F.col("o_orderstatus") == "F"), 1
    ).otherwise(0)
    p = o.select(y.alias("y"), a.alias("a"), b.alias("b"))
    bn = F.sum(
        F.when((F.col("a") == F.col("y")) & (F.col("b") != F.col("y")), 1)
        .otherwise(0)
    )
    cn = F.sum(
        F.when((F.col("b") == F.col("y")) & (F.col("a") != F.col("y")), 1)
        .otherwise(0)
    )
    return p.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        bn.cast("bigint").alias("b_only_a_right"),
        cn.cast("bigint").alias("c_only_b_right"),
        F.round(
            F.pow((bn - cn).cast("double"), 2)
            / F.nullif((bn + cn).cast("double"), F.lit(0.0)),
            6,
        ).alias("mcnemar_chi2"),
    )


# ---------------------------------------------------------------------------
# Brown–Forsythe robust variance-homogeneity test (the |x − median|
# variant of Levene 1960; Brown & Forsythe 1974) across market
# segments — the assumption check that should precede anova_f_oneway.
# Exactness ladder: prices live on the CENTS lattice; the per-group
# doubled median m2 = y(⌊(n+1)/2⌋) + y(⌈(n+1)/2⌉) keeps half-values
# integer; z2 = |2y − m2| is exact BIGINT; per-group (n, Σz2, Σz2²)
# accumulate in DECIMAL(38,0) (Σz2² overflows BIGINT at sf≥0.1).
# Cross-group combination follows the pagerank seam: each group's
# between/within terms are computed as doubles FROM exact integers,
# round(6)-ed, then summed as DECIMAL(38,6) — order-free — and the
# final F = ((N−k)/(k−1))·SSB/SSW is one expression. Plan: one join +
# one segment-partitioned window (median ranks) + two aggregations;
# no global window anywhere.
@_q(
    "brown_forsythe_test",
    """
    WITH j AS (
      SELECT c.c_mktsegment AS seg,
             CAST(round(o.o_totalprice * 100) AS BIGINT) AS y
      FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
    ),
    r AS (
      SELECT seg, y,
             row_number() OVER (PARTITION BY seg ORDER BY y) AS rn,
             COUNT(*) OVER (PARTITION BY seg) AS n
      FROM j
    ),
    med AS (
      SELECT seg,
             CAST(SUM(CASE WHEN rn IN ((n + 1) // 2, (n + 2) // 2)
                           THEN y END)
                  * MAX(CASE WHEN (n + 1) // 2 = (n + 2) // 2
                             THEN 2 ELSE 1 END)
                  AS BIGINT) AS m2
      FROM r GROUP BY seg
    ),
    z AS (
      SELECT r.seg, ABS(2 * r.y - m.m2) AS z2
      FROM r JOIN med m ON m.seg = r.seg
    ),
    g AS (
      SELECT seg, COUNT(*) AS n,
             SUM(CAST(z2 AS HUGEINT)) AS s,
             SUM(CAST(z2 AS HUGEINT) * z2) AS q
      FROM z GROUP BY seg
    ),
    terms AS (
      SELECT n, CAST(s AS DOUBLE) AS sd,
             CAST(round(CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / n, 6)
                  AS DECIMAL(38,6)) AS t6,
             CAST(round(CAST(q AS DOUBLE)
                        - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / n, 6)
                  AS DECIMAL(38,6)) AS w6
      FROM g
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS k,
           CAST(SUM(n) AS BIGINT) AS n_total,
           CASE WHEN COUNT(*) < 2 OR CAST(SUM(w6) AS DOUBLE) = 0 THEN NULL
                ELSE round((CAST(SUM(t6) AS DOUBLE)
                  - round(CAST(SUM(sd) AS DOUBLE) * CAST(SUM(sd) AS DOUBLE)
                          / SUM(n), 6))
                 * (SUM(n) - COUNT(*))
                 / ((COUNT(*) - 1) * CAST(SUM(w6) AS DOUBLE)), 6) END
             AS f_brown_forsythe
    FROM terms
    """,
)
def q_brown_forsythe_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = t(spark, sf_dir, "orders")
    c = t(spark, sf_dir, "customer")
    j = o.join(c, o["o_custkey"] == c["c_custkey"]).select(
        F.col("c_mktsegment").alias("seg"),
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("y"),
    )
    w = Window.partitionBy("seg").orderBy("y")
    wc = Window.partitionBy("seg")
    r = j.select(
        "seg",
        "y",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(wc).alias("n"),
    )
    lo = F.expr("(n + 1) DIV 2")
    hi = F.expr("(n + 2) DIV 2")
    med = r.groupBy("seg").agg(
        (
            F.sum(F.when(F.col("rn").isin(lo, hi), F.col("y")))
            # n is group-constant, so max() just lifts the odd/even
            # doubling flag through the aggregate boundary
            * F.max(F.when(lo == hi, 2).otherwise(1))
        )
        .cast("bigint")
        .alias("m2")
    )
    z = r.join(med, "seg").select(
        "seg", F.abs(2 * F.col("y") - F.col("m2")).alias("z2")
    )
    g = z.groupBy("seg").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("z2").cast("decimal(38,0)")).alias("s"),
        F.sum(F.col("z2").cast("decimal(38,0)") * F.col("z2")).alias("q"),
    )
    sd = F.col("s").cast("double")
    terms = g.select(
        "n",
        sd.alias("sd"),
        F.round(sd * sd / F.col("n"), 6).cast("decimal(38,6)").alias("t6"),
        F.round(F.col("q").cast("double") - sd * sd / F.col("n"), 6)
        .cast("decimal(38,6)")
        .alias("w6"),
    )
    ssum = F.sum("sd").cast("double")
    # one group (no between-variance dof) or zero within-variance →
    # explicit NULL, never an engine-dependent 0/0 artifact
    return terms.agg(
        F.count(F.lit(1)).cast("bigint").alias("k"),
        F.sum("n").cast("bigint").alias("n_total"),
        F.when(
            (F.count(F.lit(1)) < 2) | (F.sum("w6").cast("double") == 0),
            F.lit(None),
        )
        .otherwise(
            F.round(
                (
                    F.sum("t6").cast("double")
                    - F.round(ssum * ssum / F.sum("n"), 6)
                )
                * (F.sum("n") - F.count(F.lit(1)))
                / (
                    (F.count(F.lit(1)) - 1)
                    * F.sum("w6").cast("double")
                ),
                6,
            )
        )
        .alias("f_brown_forsythe"),
    )


# ---------------------------------------------------------------------------
# Log-rank test (Mantel 1966) between two user cohorts on the same
# signup→purchase spells as kaplan_meier_conversion (cohort = user_id
# parity — an assignment-table-free split, the A/B convention here):
# at each distinct event time, observed group-1 deaths vs the
# hypergeometric expectation d·n1/n and variance
# d·n1·(n−n1)·(n−d)/(n²(n−1)); χ² = (O1−E1)²/V. Determinism: data
# reduces to per-distinct-time INTEGER (d, d1, n, n1) first (reverse
# cumulative windows over the bounded distinct-time table), each
# time's E/V term is one double expression from exact ints round(9),
# and the cross-time sums run in DECIMAL(38,9) — order-free.
@_q(
    "logrank_test",
    """
    WITH per_user AS (
      SELECT user_id,
             min(ts) AS t0,
             min(CASE WHEN event_type = 'purchase' THEN ts END) AS t_ev,
             max(ts) AS t_last
      FROM events GROUP BY user_id
    ), spells AS (
      SELECT CASE WHEN t_ev IS NOT NULL
                  THEN CAST(date_diff('second', t0, t_ev) AS BIGINT)
                  ELSE CAST(date_diff('second', t0, t_last) AS BIGINT)
             END AS t_sec,
             (t_ev IS NOT NULL) AS observed,
             CAST(user_id % 2 AS INT) AS grp
      FROM per_user
    ), times AS (
      SELECT t_sec,
             COUNT(*) FILTER (observed) AS d,
             COUNT(*) FILTER (observed AND grp = 1) AS d1,
             COUNT(*) AS leaving,
             COUNT(*) FILTER (grp = 1) AS leaving1
      FROM spells GROUP BY t_sec
    ), risk AS (
      SELECT t_sec, d, d1,
             SUM(leaving) OVER (ORDER BY t_sec DESC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS n,
             SUM(leaving1) OVER (ORDER BY t_sec DESC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS n1
      FROM times
    ), terms AS (
      SELECT d1,
             CAST(round(CAST(d AS DOUBLE) * n1 / n, 9) AS DECIMAL(38,9))
               AS e1,
             CAST(round(CAST(d AS DOUBLE) * n1 * (n - n1) * (n - d)
                        / (CAST(n AS DOUBLE) * n * GREATEST(n - 1, 1)), 9)
                  AS DECIMAL(38,9)) AS v
      FROM risk WHERE d > 0
    )
    SELECT CAST(SUM(d1) AS BIGINT) AS o1,
           round(CAST(SUM(e1) AS DOUBLE), 6) AS e1,
           round(CAST(SUM(v) AS DOUBLE), 6) AS var_o1,
           round(POWER(SUM(d1) - CAST(SUM(e1) AS DOUBLE), 2)
                 / CAST(SUM(v) AS DOUBLE), 6) AS logrank_chi2
    FROM terms
    """,
)
def q_logrank_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(
        F.min("ts").alias("t0"),
        F.min(F.when(F.col("event_type") == "purchase", F.col("ts"))).alias(
            "t_ev"
        ),
        F.max("ts").alias("t_last"),
    )
    t_end = F.coalesce(F.col("t_ev"), F.col("t_last"))
    spells = per_user.select(
        (F.unix_timestamp(t_end) - F.unix_timestamp(F.col("t0")))
        .cast("bigint")
        .alias("t_sec"),
        F.col("t_ev").isNotNull().alias("observed"),
        (F.col("user_id") % 2).cast("int").alias("grp"),
    )
    times = spells.groupBy("t_sec").agg(
        F.sum(F.when(F.col("observed"), 1).otherwise(0)).alias("d"),
        F.sum(
            F.when(F.col("observed") & (F.col("grp") == 1), 1).otherwise(0)
        ).alias("d1"),
        F.count("*").alias("leaving"),
        F.sum(F.when(F.col("grp") == 1, 1).otherwise(0)).alias("leaving1"),
    )
    w_desc = Window.orderBy(F.desc("t_sec")).rowsBetween(
        Window.unboundedPreceding, 0
    )
    risk = times.select(
        "t_sec",
        "d",
        "d1",
        F.sum("leaving").over(w_desc).alias("n"),
        F.sum("leaving1").over(w_desc).alias("n1"),
    ).where(F.col("d") > 0)
    dd = F.col("d").cast("double")
    nd = F.col("n").cast("double")
    terms = risk.select(
        "d1",
        F.round(dd * F.col("n1") / F.col("n"), 9)
        .cast("decimal(38,9)")
        .alias("e1"),
        F.round(
            dd
            * F.col("n1")
            * (F.col("n") - F.col("n1"))
            * (F.col("n") - F.col("d"))
            / (nd * F.col("n") * F.greatest(F.col("n") - 1, F.lit(1))),
            9,
        )
        .cast("decimal(38,9)")
        .alias("v"),
    )
    return terms.agg(
        F.sum("d1").cast("bigint").alias("o1"),
        F.round(F.sum("e1").cast("double"), 6).alias("e1"),
        F.round(F.sum("v").cast("double"), 6).alias("var_o1"),
        F.round(
            F.pow(F.sum("d1") - F.sum("e1").cast("double"), 2)
            / F.sum("v").cast("double"),
            6,
        ).alias("logrank_chi2"),
    )


# ---------------------------------------------------------------------------
# Exposure-adjusted incidence-rate ratio (classic Poisson-process
# epidemiology readout, the survival tier's rate-based sibling):
# events = purchases, exposure = each user's observed seconds (first
# to last event), cohorts = user-id parity. λ = events/exposure per
# cohort — exact integer counts over exact integer second sums — and
# the report is the rate ratio with its log-scale Wald standard error
# 1/√e1 + ... (se² = 1/e1 + 1/e2, the classic Poisson approximation).
# One aggregation per cohort; four integers + two divisions + one ln.
@_q(
    "incidence_rate_ratio",
    """
    WITH per_user AS (
      SELECT user_id,
             CAST(user_id % 2 AS INT) AS grp,
             CAST(date_diff('second', min(ts), max(ts)) AS BIGINT)
               AS exposure_s,
             SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
               AS n_ev
      FROM events GROUP BY user_id
    ),
    g AS (
      SELECT grp, SUM(n_ev) AS ev, SUM(exposure_s) AS expo
      FROM per_user WHERE exposure_s > 0 GROUP BY grp
    ),
    w AS (
      SELECT MAX(CASE WHEN grp = 1 THEN ev END) AS e1,
             MAX(CASE WHEN grp = 1 THEN expo END) AS x1,
             MAX(CASE WHEN grp = 0 THEN ev END) AS e0,
             MAX(CASE WHEN grp = 0 THEN expo END) AS x0
      FROM g
    )
    SELECT CAST(e1 AS BIGINT) AS events_1, CAST(x1 AS BIGINT) AS exposure_1,
           CAST(e0 AS BIGINT) AS events_0, CAST(x0 AS BIGINT) AS exposure_0,
           CASE WHEN e1 = 0 OR e0 = 0 OR x1 = 0 OR x0 = 0 THEN NULL
                ELSE round(CAST(e1 AS DOUBLE) * x0
                           / (CAST(e0 AS DOUBLE) * x1), 6) END AS rate_ratio,
           CASE WHEN e1 = 0 OR e0 = 0 OR x1 = 0 OR x0 = 0 THEN NULL
                ELSE round(ln(CAST(e1 AS DOUBLE) * x0
                              / (CAST(e0 AS DOUBLE) * x1))
                           / sqrt(1.0 / e1 + 1.0 / e0), 6) END AS log_irr_z
    FROM w
    """,
)
def q_incidence_rate_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(
        (
            F.unix_timestamp(F.max("ts")) - F.unix_timestamp(F.min("ts"))
        ).cast("bigint").alias("exposure_s"),
        F.sum(
            F.when(F.col("event_type") == "purchase", 1).otherwise(0)
        ).alias("n_ev"),
    ).select(
        (F.col("user_id") % 2).cast("int").alias("grp"),
        "exposure_s",
        "n_ev",
    )
    g = (
        per_user.where(F.col("exposure_s") > 0)
        .groupBy("grp")
        .agg(F.sum("n_ev").alias("ev"), F.sum("exposure_s").alias("expo"))
    )
    pick = lambda c, v: F.max(F.when(F.col("grp") == v, F.col(c)))
    w = g.agg(
        pick("ev", 1).alias("e1"),
        pick("expo", 1).alias("x1"),
        pick("ev", 0).alias("e0"),
        pick("expo", 0).alias("x0"),
    )
    irr = (
        F.col("e1").cast("double")
        * F.col("x0")
        / (F.col("e0").cast("double") * F.col("x1"))
    )
    # a single-class cohort (no events or no exposure on either arm)
    # yields an explicit NULL, not an engine-dependent inf/NaN (the
    # r9 roc_auc advice class)
    degen = (
        (F.col("e1") == 0)
        | (F.col("e0") == 0)
        | (F.col("x1") == 0)
        | (F.col("x0") == 0)
    )
    return w.select(
        F.col("e1").cast("bigint").alias("events_1"),
        F.col("x1").cast("bigint").alias("exposure_1"),
        F.col("e0").cast("bigint").alias("events_0"),
        F.col("x0").cast("bigint").alias("exposure_0"),
        F.when(degen, F.lit(None)).otherwise(F.round(irr, 6)).alias(
            "rate_ratio"
        ),
        F.when(degen, F.lit(None))
        .otherwise(
            F.round(
                F.log(irr) / F.sqrt(1.0 / F.col("e1") + 1.0 / F.col("e0")),
                6,
            )
        )
        .alias("log_irr_z"),
    )


# ---------------------------------------------------------------------------
# CUPED variance reduction (Deng, Xu, Kohavi & Walker WSDM 2013):
# adjust the experiment metric with a pre-period covariate,
# Y' = Y - theta*(X - mean X), theta = cov(X,Y)/var(X). Pre-period =
# first 15 days of the event calendar (clicks+views value), metric =
# purchase value in the remainder; arms by the same md5 parity as
# ab_experiment_analysis. EVERYTHING reduces to eleven exact
# DECIMAL sufficient statistics (per-arm n/Sx/Sy + global n/Sx/Sy/
# Sxx/Sxy), so theta, the adjusted lift, and the variance-reduction
# ratio (which algebraically equals corr(X,Y)^2) are each ONE
# fixed-order float expression over exact inputs — the whole analysis
# moves eleven numbers to the driver at any scale.
@_q(
    "cuped_adjusted_lift",
    """
    WITH bounds AS (
      SELECT MIN(ts) + INTERVAL 15 DAY AS cut FROM events
    ),
    per_user AS (
      SELECT user_id,
             CASE WHEN CAST(('0x' || substring(md5(CAST(user_id AS VARCHAR)),
                        1, 4)) AS INTEGER) % 2 = 0
                  THEN 'control' ELSE 'treatment' END AS arm,
             SUM(CASE WHEN ts < cut THEN CAST(value AS DECIMAL(18,2))
                      ELSE CAST(0 AS DECIMAL(18,2)) END) AS x,
             SUM(CASE WHEN ts >= cut AND event_type = 'purchase'
                      THEN CAST(value AS DECIMAL(18,2))
                      ELSE CAST(0 AS DECIMAL(18,2)) END) AS y
      FROM events, bounds GROUP BY 1, 2
    ),
    g AS (
      SELECT COUNT(*) AS n,
             CAST(SUM(x) AS DECIMAL(38,2)) AS sx,
             CAST(SUM(y) AS DECIMAL(38,2)) AS sy,
             CAST(SUM(x * x) AS DECIMAL(38,4)) AS sxx,
             CAST(SUM(x * y) AS DECIMAL(38,4)) AS sxy,
             CAST(SUM(y * y) AS DECIMAL(38,4)) AS syy
      FROM per_user
    ),
    a AS (
      SELECT
        max(CASE WHEN arm = 'control' THEN cnt END) AS n1,
        max(CASE WHEN arm = 'control' THEN asx END) AS sx1,
        max(CASE WHEN arm = 'control' THEN asy END) AS sy1,
        max(CASE WHEN arm = 'treatment' THEN cnt END) AS n2,
        max(CASE WHEN arm = 'treatment' THEN asx END) AS sx2,
        max(CASE WHEN arm = 'treatment' THEN asy END) AS sy2
      FROM (SELECT arm, COUNT(*) AS cnt,
                   CAST(SUM(x) AS DECIMAL(38,2)) AS asx,
                   CAST(SUM(y) AS DECIMAL(38,2)) AS asy
            FROM per_user GROUP BY arm)
    )
    SELECT CAST(g.n AS BIGINT) AS n_users,
           round(CAST(g.n * g.sxy - g.sx * g.sy AS DOUBLE)
                 / CAST(g.n * g.sxx - g.sx * g.sx AS DOUBLE), 9) AS theta,
           round(CAST(a.sy2 AS DOUBLE) / a.n2
                 - CAST(a.sy1 AS DOUBLE) / a.n1, 6) AS raw_lift,
           round((CAST(a.sy2 AS DOUBLE) / a.n2
                  - CAST(a.sy1 AS DOUBLE) / a.n1)
                 - (CAST(g.n * g.sxy - g.sx * g.sy AS DOUBLE)
                    / CAST(g.n * g.sxx - g.sx * g.sx AS DOUBLE))
                   * (CAST(a.sx2 AS DOUBLE) / a.n2
                      - CAST(a.sx1 AS DOUBLE) / a.n1), 6) AS cuped_lift,
           round((CAST(g.n * g.sxy - g.sx * g.sy AS DOUBLE)
                  * CAST(g.n * g.sxy - g.sx * g.sy AS DOUBLE))
                 / (CAST(g.n * g.sxx - g.sx * g.sx AS DOUBLE)
                    * CAST(g.n * g.syy - g.sy * g.sy AS DOUBLE)), 9)
             AS variance_reduction
    FROM g, a
    """,
)
def q_cuped_adjusted_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events")
    cut = ev.agg(
        (F.min("ts") + F.expr("INTERVAL 15 DAYS")).alias("cut")
    )
    d2 = lambda c: c.cast("decimal(18,2)")
    zero = F.lit(0).cast("decimal(18,2)")
    per_user = (
        ev.crossJoin(F.broadcast(cut))
        .groupBy(
            "user_id",
            F.when(
                F.conv(
                    F.substring(F.md5(F.col("user_id").cast("string")), 1, 4),
                    16,
                    10,
                ).cast("int")
                % 2
                == 0,
                "control",
            )
            .otherwise("treatment")
            .alias("arm"),
        )
        .agg(
            F.sum(
                F.when(F.col("ts") < F.col("cut"), d2(F.col("value"))).otherwise(
                    zero
                )
            ).alias("x"),
            F.sum(
                F.when(
                    (F.col("ts") >= F.col("cut"))
                    & (F.col("event_type") == "purchase"),
                    d2(F.col("value")),
                ).otherwise(zero)
            ).alias("y"),
        )
        .localCheckpoint(eager=True)  # global + per-arm stats share it
    )
    d38 = lambda c, s: F.sum(c).cast(f"decimal(38,{s})")
    g = per_user.agg(
        F.count(F.lit(1)).alias("n"),
        d38(F.col("x"), 2).alias("sx"),
        d38(F.col("y"), 2).alias("sy"),
        d38(F.col("x") * F.col("x"), 4).alias("sxx"),
        d38(F.col("x") * F.col("y"), 4).alias("sxy"),
        d38(F.col("y") * F.col("y"), 4).alias("syy"),
    )
    arms = per_user.groupBy("arm").agg(
        F.count(F.lit(1)).alias("cnt"),
        d38(F.col("x"), 2).alias("asx"),
        d38(F.col("y"), 2).alias("asy"),
    )
    is_c = F.col("arm") == "control"
    a = arms.agg(
        F.max(F.when(is_c, F.col("cnt"))).alias("n1"),
        F.max(F.when(is_c, F.col("asx"))).alias("sx1"),
        F.max(F.when(is_c, F.col("asy"))).alias("sy1"),
        F.max(F.when(~is_c, F.col("cnt"))).alias("n2"),
        F.max(F.when(~is_c, F.col("asx"))).alias("sx2"),
        F.max(F.when(~is_c, F.col("asy"))).alias("sy2"),
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    covn = (n * F.col("sxy") - sx * sy).cast("double")
    varxn = (n * F.col("sxx") - sx * sx).cast("double")
    varyn = (n * F.col("syy") - sy * sy).cast("double")
    theta = covn / varxn
    mean_dy = F.col("sy2").cast("double") / F.col("n2") - F.col(
        "sy1"
    ).cast("double") / F.col("n1")
    mean_dx = F.col("sx2").cast("double") / F.col("n2") - F.col(
        "sx1"
    ).cast("double") / F.col("n1")
    return g.crossJoin(F.broadcast(a)).select(
        n.cast("bigint").alias("n_users"),
        F.round(theta, 9).alias("theta"),
        F.round(mean_dy, 6).alias("raw_lift"),
        F.round(mean_dy - theta * mean_dx, 6).alias("cuped_lift"),
        F.round(covn * covn / (varxn * varyn), 9).alias("variance_reduction"),
    )


# ---------------------------------------------------------------------------
# Jackknife variance for a RATIO metric (Efron & Stein 1981; the
# estimator every experimentation platform uses for revenue-per-
# purchase style metrics where the unit of analysis is the user but
# the metric is a ratio of user sums, so the naive binomial/t SE is
# wrong): R = sum(y_u)/sum(n_u); leave-one-out replicates come in
# CLOSED FORM from the broadcast totals, r_u = (Sy-y_u)/(Sn-n_u) — one
# pass over users, no U re-aggregations. Numerical discipline: the
# replicates cluster tightly around R, so the variance is computed on
# CENTERED deviations d_u = round(r_u - R, 12) (direct sum-of-squares
# minus square-of-sums cancels catastrophically); V_jk =
# (U-1)/U * (sum d^2 - (sum d)^2/U).
@_q(
    "jackknife_ratio_variance",
    """
    WITH pu AS (
      SELECT user_id,
             SUM(CAST(value AS DECIMAL(18,2))) AS y,
             COUNT(*) AS n
      FROM events WHERE event_type = 'purchase' GROUP BY 1
    ),
    tot AS (
      SELECT CAST(SUM(y) AS DECIMAL(38,2)) AS sy,
             CAST(SUM(n) AS BIGINT) AS sn,
             COUNT(*) AS u
      FROM pu
    ),
    reps AS (
      SELECT round(CAST(tot.sy - pu.y AS DOUBLE) / CAST(tot.sn - pu.n AS DOUBLE)
                   - CAST(tot.sy AS DOUBLE) / CAST(tot.sn AS DOUBLE), 12) AS d
      FROM pu, tot
    )
    SELECT CAST(tot.u AS BIGINT) AS n_users,
           round(CAST(tot.sy AS DOUBLE) / CAST(tot.sn AS DOUBLE), 9) AS ratio,
           round(CAST(tot.u - 1 AS DOUBLE) / tot.u
                 * (SUM(d * d) - SUM(d) * SUM(d) / tot.u), 9) AS jk_variance,
           round(sqrt(CAST(tot.u - 1 AS DOUBLE) / tot.u
                 * (SUM(d * d) - SUM(d) * SUM(d) / tot.u)), 9) AS jk_se
    FROM reps, tot GROUP BY tot.u, tot.sy, tot.sn
    """,
)
def q_jackknife_ratio_variance(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events").where(F.col("event_type") == "purchase")
    pu = ev.groupBy("user_id").agg(
        F.sum(F.col("value").cast("decimal(18,2)")).alias("y"),
        F.count(F.lit(1)).alias("n"),
    )
    tot = pu.agg(
        F.sum("y").cast("decimal(38,2)").alias("sy"),
        F.sum("n").cast("bigint").alias("sn"),
        F.count(F.lit(1)).alias("u"),
    )
    reps = pu.crossJoin(F.broadcast(tot)).select(
        "u",
        "sy",
        "sn",
        F.round(
            (F.col("sy") - F.col("y")).cast("double")
            / (F.col("sn") - F.col("n")).cast("double")
            - F.col("sy").cast("double") / F.col("sn").cast("double"),
            12,
        ).alias("d"),
    )
    v = (
        (F.col("u") - 1).cast("double")
        / F.col("u")
        * (F.sum(F.col("d") * F.col("d")) - F.sum("d") * F.sum("d") / F.col("u"))
    )
    return reps.groupBy("u", "sy", "sn").agg(
        F.col("u").cast("bigint").alias("n_users"),
        F.round(F.col("sy").cast("double") / F.col("sn").cast("double"), 9).alias(
            "ratio"
        ),
        F.round(v, 9).alias("jk_variance"),
        F.round(F.sqrt(v), 9).alias("jk_se"),
    ).select("n_users", "ratio", "jk_variance", "jk_se")


# ---------------------------------------------------------------------------
# Kaplan-Meier with Greenwood confidence bands (Greenwood 1926): the
# KM curve above plus its standard error, se(t) = S(t) *
# sqrt(sum_{ti<=t} d/(n(n-d))) — the variance term is a second
# cumulative window over the same (deaths, at-risk) spine, with each
# rational summand rounded to 12 before accumulation (per-term-round
# discipline; the frame pins the order anyway). Reports the LAST 20
# event times (the tail is where the bands matter — n_risk is small).
# Rows where d = n (survival hits 0) keep NULL bands: the variance
# formula divides by zero there by construction.
@_q(
    "km_greenwood_ci",
    """
    WITH per_user AS (
      SELECT user_id,
             min(ts) AS t0,
             min(CASE WHEN event_type = 'purchase' THEN ts END) AS t_ev,
             max(ts) AS t_last
      FROM events GROUP BY user_id
    ), spells AS (
      SELECT CASE WHEN t_ev IS NOT NULL
                  THEN CAST(date_diff('second', t0, t_ev) AS BIGINT)
                  ELSE CAST(date_diff('second', t0, t_last) AS BIGINT)
             END AS t_sec,
             (t_ev IS NOT NULL) AS observed
      FROM per_user
    ), times AS (
      SELECT t_sec,
             COUNT(*) FILTER (observed) AS d,
             COUNT(*) AS leaving
      FROM spells GROUP BY t_sec
    ), risk AS (
      SELECT t_sec, d,
             SUM(leaving) OVER (ORDER BY t_sec DESC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS n_risk
      FROM times
    ), curve AS (
      SELECT t_sec, d, n_risk,
             CASE WHEN SUM(CASE WHEN d = n_risk THEN 1 ELSE 0 END)
                       OVER w > 0 THEN 0.0
                  ELSE round(exp(SUM(CASE WHEN d = n_risk THEN 0.0
                                     ELSE ln(1.0 - CAST(d AS DOUBLE) / n_risk)
                                     END) OVER w), 6) END AS s,
             CASE WHEN SUM(CASE WHEN d = n_risk THEN 1 ELSE 0 END)
                       OVER w > 0 THEN NULL
                  ELSE SUM(CASE WHEN d = n_risk THEN 0.0
                           ELSE round(CAST(d AS DOUBLE)
                                 / (CAST(n_risk AS DOUBLE) * (n_risk - d)),
                                 12) END) OVER w END AS gw
      FROM risk WHERE d > 0
      WINDOW w AS (ORDER BY t_sec
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    )
    SELECT CAST(t_sec AS BIGINT) AS t_sec,
           CAST(n_risk AS BIGINT) AS n_risk,
           s AS survival,
           round(s * sqrt(gw), 6) AS greenwood_se,
           CASE WHEN gw IS NULL THEN NULL
                ELSE round(GREATEST(s - 1.96 * s * sqrt(gw), 0.0), 6) END
             AS ci_lo,
           CASE WHEN gw IS NULL THEN NULL
                ELSE round(LEAST(s + 1.96 * s * sqrt(gw), 1.0), 6) END
             AS ci_hi
    FROM curve
    ORDER BY t_sec DESC LIMIT 20
    """,
)
def q_km_greenwood_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(
        F.min("ts").alias("t0"),
        F.min(F.when(F.col("event_type") == "purchase", F.col("ts"))).alias(
            "t_ev"
        ),
        F.max("ts").alias("t_last"),
    )
    t_end = F.coalesce(F.col("t_ev"), F.col("t_last"))
    spells = per_user.select(
        (F.unix_timestamp(t_end) - F.unix_timestamp(F.col("t0")))
        .cast("bigint")
        .alias("t_sec"),
        F.col("t_ev").isNotNull().alias("observed"),
    )
    times = spells.groupBy("t_sec").agg(
        F.sum(F.when(F.col("observed"), 1).otherwise(0)).alias("d"),
        F.count("*").alias("leaving"),
    )
    w_desc = Window.orderBy(F.desc("t_sec")).rowsBetween(
        Window.unboundedPreceding, 0
    )
    risk = times.select(
        "t_sec", "d", F.sum("leaving").over(w_desc).alias("n_risk")
    ).where(F.col("d") > 0)
    w = Window.orderBy("t_sec").rowsBetween(Window.unboundedPreceding, 0)
    hit_zero = (
        F.sum(F.when(F.col("d") == F.col("n_risk"), 1).otherwise(0)).over(w)
        > 0
    )
    s = F.when(hit_zero, F.lit(0.0)).otherwise(
        F.round(
            F.exp(
                F.sum(
                    F.when(
                        F.col("d") == F.col("n_risk"), F.lit(0.0)
                    ).otherwise(
                        F.log(
                            1.0 - F.col("d").cast("double") / F.col("n_risk")
                        )
                    )
                ).over(w)
            ),
            6,
        )
    )
    # the per-term division must carry its own d = n_risk guard: the
    # window sum evaluates every row's term even when the outer CASE
    # discards the result, and ANSI Spark errors on the 0 divisor
    gw = F.when(hit_zero, F.lit(None)).otherwise(
        F.sum(
            F.when(F.col("d") == F.col("n_risk"), F.lit(0.0)).otherwise(
                F.round(
                    F.col("d").cast("double")
                    / (
                        F.col("n_risk").cast("double")
                        * (F.col("n_risk") - F.col("d"))
                    ),
                    12,
                )
            )
        ).over(w)
    )
    curve = risk.select(
        "t_sec", "n_risk", s.alias("s"), gw.alias("gw")
    )
    se = F.col("s") * F.sqrt(F.col("gw"))
    return (
        curve.select(
            F.col("t_sec").cast("bigint").alias("t_sec"),
            F.col("n_risk").cast("bigint").alias("n_risk"),
            F.col("s").alias("survival"),
            F.round(se, 6).alias("greenwood_se"),
            F.when(F.col("gw").isNull(), F.lit(None))
            .otherwise(F.round(F.greatest(F.col("s") - 1.96 * se, F.lit(0.0)), 6))
            .alias("ci_lo"),
            F.when(F.col("gw").isNull(), F.lit(None))
            .otherwise(F.round(F.least(F.col("s") + 1.96 * se, F.lit(1.0)), 6))
            .alias("ci_hi"),
        )
        .orderBy(F.desc("t_sec"))
        .limit(20)
    )


# ---------------------------------------------------------------------------
# Mantel-Haenszel pooled odds ratio (Mantel & Haenszel 1959): the
# stratified 2x2 epidemiology estimator over the same seg x year
# strata as the causal pair — exposure = order fully shipped,
# outcome = urgent/high priority. OR_MH = sum_s(a*d/n) / sum_s(b*c/n)
# with per-stratum rational terms rounded to 9 and summed as
# DECIMAL(38,9) (order-independent); the crude (pooled-table) OR
# rides along to expose the confounding the stratification removes.
@_q(
    "mantel_haenszel_or",
    """
    WITH j AS (
      SELECT c.c_mktsegment AS seg, year(o.o_orderdate) AS yr,
             CASE WHEN o.o_orderstatus = 'F' THEN 1 ELSE 0 END AS e,
             CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                  THEN 1 ELSE 0 END AS y
      FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
    ),
    s AS (
      SELECT seg, yr,
             SUM(e * y) AS a, SUM(e * (1 - y)) AS b,
             SUM((1 - e) * y) AS c, SUM((1 - e) * (1 - y)) AS d,
             COUNT(*) AS n
      FROM j GROUP BY seg, yr
    ),
    mh AS (
      SELECT COUNT(*) AS n_strata,
             CAST(SUM(CAST(round(CAST(a AS DOUBLE) * d / n, 9)
                           AS DECIMAL(38,9))) AS DOUBLE) AS num,
             CAST(SUM(CAST(round(CAST(b AS DOUBLE) * c / n, 9)
                           AS DECIMAL(38,9))) AS DOUBLE) AS den
      FROM s
    ),
    crude AS (
      SELECT CAST(SUM(a) AS DOUBLE) * SUM(d)
             / (CAST(SUM(b) AS DOUBLE) * SUM(c)) AS cor
      FROM s
    )
    SELECT CAST(mh.n_strata AS BIGINT) AS n_strata,
           round(crude.cor, 6) AS crude_or,
           round(mh.num / mh.den, 6) AS mh_or
    FROM mh, crude
    """,
)
def q_mantel_haenszel_or(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = t(spark, sf_dir, "orders")
    c = t(spark, sf_dir, "customer")
    j = o.join(c, o["o_custkey"] == c["c_custkey"]).select(
        F.col("c_mktsegment").alias("seg"),
        F.year("o_orderdate").alias("yr"),
        F.when(F.col("o_orderstatus") == "F", 1).otherwise(0).alias("e"),
        F.when(F.col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1)
        .otherwise(0)
        .alias("y"),
    )
    s = j.groupBy("seg", "yr").agg(
        F.sum(F.col("e") * F.col("y")).alias("a"),
        F.sum(F.col("e") * (1 - F.col("y"))).alias("b"),
        F.sum((1 - F.col("e")) * F.col("y")).alias("c"),
        F.sum((1 - F.col("e")) * (1 - F.col("y"))).alias("d"),
        F.count(F.lit(1)).alias("n"),
    ).localCheckpoint(eager=True)  # MH + crude arms share it
    mh = s.agg(
        F.count(F.lit(1)).alias("n_strata"),
        F.sum(
            F.round(F.col("a").cast("double") * F.col("d") / F.col("n"), 9)
            .cast("decimal(38,9)")
        )
        .cast("double")
        .alias("num"),
        F.sum(
            F.round(F.col("b").cast("double") * F.col("c") / F.col("n"), 9)
            .cast("decimal(38,9)")
        )
        .cast("double")
        .alias("den"),
    )
    crude = s.agg(
        (
            F.sum("a").cast("double")
            * F.sum("d")
            / (F.sum("b").cast("double") * F.sum("c"))
        ).alias("cor")
    )
    return mh.crossJoin(F.broadcast(crude)).select(
        F.col("n_strata").cast("bigint").alias("n_strata"),
        F.round(F.col("cor"), 6).alias("crude_or"),
        F.round(F.col("num") / F.col("den"), 6).alias("mh_or"),
    )


# ---------------------------------------------------------------------------
# Wald SPRT (sequential probability ratio test, 1945) — the
# always-valid sequential monitor an experimentation platform runs
# daily instead of a fixed-horizon test: among click/purchase events,
# is the purchase share p = 0.5 (H0) or p = 0.55 (H1)? Per day the
# log-likelihood-ratio increment x_d*ln(p1/p0) +
# (n_d - x_d)*ln(q1/q0) is rounded to the 1e-12 lattice and the
# cumulative walk is a DECIMAL prefix sum over the day spine (exact,
# order-free); the decision is the FIRST day the walk leaves
# [ln(beta/(1-alpha)), ln((1-beta)/alpha)] at alpha = beta = 0.05.
# Transcendental constants are computed in-engine on both sides (the
# proven-portable pair), never pasted as literals. 100 TB: one
# daily rollup is the only row-volume pass; the walk lives on the
# calendar spine.
@_q(
    "sprt_sequential_test",
    """
    WITH daily AS (
      SELECT CAST(date_diff('day',
                            (SELECT min(CAST(ts AS DATE)) FROM events
                             WHERE event_type IN ('click', 'purchase')),
                            CAST(ts AS DATE)) AS BIGINT) AS d,
             CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                  AS BIGINT) AS x,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM events WHERE event_type IN ('click', 'purchase')
      GROUP BY 1
    ),
    walk AS (
      SELECT d, x, n,
             SUM(CAST(round(x * ln(0.55 / 0.5)
                            + (n - x) * ln(0.45 / 0.5), 12)
                      AS DECIMAL(38,12)))
               OVER (ORDER BY d) AS llr
      FROM daily
    ),
    bounds AS (
      SELECT CAST(round(ln(0.95 / 0.05), 12) AS DECIMAL(38,12)) AS hi,
             CAST(round(ln(0.05 / 0.95), 12) AS DECIMAL(38,12)) AS lo
    ),
    crossed AS (
      SELECT w.*, b.hi, b.lo FROM walk w CROSS JOIN bounds b
      WHERE w.llr >= b.hi OR w.llr <= b.lo
      ORDER BY d LIMIT 1
    ),
    final AS (
      SELECT w.*, b.hi, b.lo FROM walk w CROSS JOIN bounds b
      ORDER BY d DESC LIMIT 1
    )
    SELECT CAST(COALESCE(c.d, f.d) AS BIGINT) AS decision_day,
           CASE WHEN c.d IS NOT NULL AND c.llr >= c.hi THEN 'accept_h1'
                WHEN c.d IS NOT NULL THEN 'accept_h0'
                ELSE 'continue' END AS decision,
           round(CAST(COALESCE(c.llr, f.llr) AS DOUBLE), 6) AS llr,
           CAST((SELECT COUNT(*) FROM daily) AS BIGINT) AS n_days
    FROM final f LEFT JOIN crossed c ON TRUE
    """,
)
def q_sprt_sequential_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events").where(
        F.col("event_type").isin("click", "purchase")
    )
    dmin = ev.agg(F.min(F.col("ts").cast("date")).alias("dmin"))
    daily = (
        ev.crossJoin(F.broadcast(dmin))
        .groupBy(
            F.datediff(F.col("ts").cast("date"), F.col("dmin"))
            .cast("bigint")
            .alias("d")
        )
        .agg(
            F.sum(
                F.when(F.col("event_type") == "purchase", 1).otherwise(0)
            )
            .cast("bigint")
            .alias("x"),
            F.count(F.lit(1)).cast("bigint").alias("n"),
        )
    )
    la = F.log(F.lit(0.55) / F.lit(0.5))
    lb = F.log(F.lit(0.45) / F.lit(0.5))
    w = Window.orderBy("d").rowsBetween(Window.unboundedPreceding, 0)
    walk = daily.select(
        "d",
        F.sum(
            F.round(F.col("x") * la + (F.col("n") - F.col("x")) * lb, 12).cast(
                "decimal(38,12)"
            )
        )
        .over(w)
        .alias("llr"),
    )
    hi = F.round(F.log(F.lit(0.95) / F.lit(0.05)), 12).cast("decimal(38,12)")
    lo = F.round(F.log(F.lit(0.05) / F.lit(0.95)), 12).cast("decimal(38,12)")
    crossed = (
        walk.where((F.col("llr") >= hi) | (F.col("llr") <= lo))
        .orderBy("d")
        .limit(1)
        .select(
            F.col("d").alias("cd"),
            F.col("llr").alias("cllr"),
            F.when(F.col("llr") >= hi, "accept_h1")
            .otherwise("accept_h0")
            .alias("cdec"),
        )
    )
    final = (
        walk.orderBy(F.desc("d"))
        .limit(1)
        .select(F.col("d").alias("fd"), F.col("llr").alias("fllr"))
    )
    nd = daily.agg(F.count(F.lit(1)).cast("bigint").alias("n_days"))
    return (
        final.join(crossed, F.lit(True), "left")
        .crossJoin(F.broadcast(nd))
        .select(
            F.coalesce(F.col("cd"), F.col("fd"))
            .cast("bigint")
            .alias("decision_day"),
            F.coalesce(F.col("cdec"), F.lit("continue")).alias("decision"),
            F.round(
                F.coalesce(F.col("cllr"), F.col("fllr")).cast("double"), 6
            ).alias("llr"),
            "n_days",
        )
    )


# ---------------------------------------------------------------------------
# Difference-in-differences — the workhorse quasi-experimental
# estimator: with treatment assigned by the deterministic user-id
# parity and the period split at a fixed calendar date, the DiD
# estimate (treat_post - treat_pre) - (ctrl_post - ctrl_pre) removes
# both the group baseline and the common time trend. All four cell
# means are exact-decimal sums over 2-dp values divided once (the
# dsum discipline); the estimate is pure arithmetic on those four
# doubles. One groupBy over events — trivially scale-free.
@_q(
    "difference_in_differences",
    """
    WITH cells AS (
      SELECT CAST(user_id % 2 AS BIGINT) AS treated,
             CASE WHEN ts >= TIMESTAMP '2024-01-15 00:00:00'
                  THEN 1 ELSE 0 END AS post,
             CAST(COUNT(*) AS BIGINT) AS n,
             round(CAST(SUM(CAST(round(value, 2) AS DECIMAL(38,2)))
                        AS DOUBLE) / COUNT(*), 9) AS mean_value
      FROM events GROUP BY 1, 2
    )
    SELECT t1.mean_value AS treat_post, t0.mean_value AS treat_pre,
           c1.mean_value AS ctrl_post, c0.mean_value AS ctrl_pre,
           CAST(t1.n + t0.n + c1.n + c0.n AS BIGINT) AS n_events,
           round((t1.mean_value - t0.mean_value)
                 - (c1.mean_value - c0.mean_value), 9) AS did_estimate
    FROM cells t1, cells t0, cells c1, cells c0
    WHERE t1.treated = 1 AND t1.post = 1 AND t0.treated = 1 AND t0.post = 0
      AND c1.treated = 0 AND c1.post = 1 AND c0.treated = 0 AND c0.post = 0
    """,
)
def q_difference_in_differences(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events")
    cells = (
        ev.groupBy(
            (F.col("user_id") % 2).cast("bigint").alias("treated"),
            F.when(
                F.col("ts") >= F.lit("2024-01-15 00:00:00").cast("timestamp"),
                1,
            )
            .otherwise(0)
            .alias("post"),
        )
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.round(
                F.sum(F.round(F.col("value"), 2).cast("decimal(38,2)")).cast(
                    "double"
                )
                / F.count(F.lit(1)),
                9,
            ).alias("mean_value"),
        )
        .localCheckpoint(eager=True)
    )

    def cell(tr, po, pfx):
        return cells.where(
            (F.col("treated") == tr) & (F.col("post") == po)
        ).select(
            F.col("mean_value").alias(pfx), F.col("n").alias(f"{pfx}_n")
        )

    j = (
        cell(1, 1, "treat_post")
        .crossJoin(cell(1, 0, "treat_pre"))
        .crossJoin(cell(0, 1, "ctrl_post"))
        .crossJoin(cell(0, 0, "ctrl_pre"))
    )
    return j.select(
        "treat_post",
        "treat_pre",
        "ctrl_post",
        "ctrl_pre",
        (
            F.col("treat_post_n")
            + F.col("treat_pre_n")
            + F.col("ctrl_post_n")
            + F.col("ctrl_pre_n")
        )
        .cast("bigint")
        .alias("n_events"),
        F.round(
            (F.col("treat_post") - F.col("treat_pre"))
            - (F.col("ctrl_post") - F.col("ctrl_pre")),
            9,
        ).alias("did_estimate"),
    )


# ---------------------------------------------------------------------------
# Regression discontinuity (sharp RDD): customers cross a "premium"
# threshold at acctbal 5000; the local treatment effect is the jump
# between two separately-fit local linear regressions of total spend
# on the running variable inside the +/-2000 bandwidth, both
# evaluated AT the cutoff. Every sufficient statistic (n, Sx, Sxx,
# Sy, Sxy per side) is an exact decimal sum on the cents lattice, the
# 2x2 normal-equation solve is closed form, and only the final
# slope/intercept divisions are double — the same exactness recipe
# as ridge_closed_form. One scan, two grouped aggregates. Outputs
# round to 4 dp: at spend magnitude a 9-dp round sits close enough
# to the double-rounding disagreement window to flap (observed at
# sf0.1), 4 dp clears it by five orders.
@_q(
    "regression_discontinuity",
    """
    WITH spend AS (
      SELECT c.c_custkey,
             CAST(c.c_acctbal AS DECIMAL(18,2)) - 5000 AS x,
             CAST(SUM(o.o_totalprice) AS DECIMAL(38,2)) AS y
      FROM customer c JOIN orders o ON o.o_custkey = c.c_custkey
      WHERE c.c_acctbal >= 3000 AND c.c_acctbal < 7000
      GROUP BY c.c_custkey, c.c_acctbal
    ),
    sides AS (
      SELECT CASE WHEN x >= 0 THEN 1 ELSE 0 END AS treated,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(x) AS DECIMAL(38,2)) AS sx,
             CAST(SUM(x * x) AS DECIMAL(38,4)) AS sxx,
             CAST(SUM(y) AS DECIMAL(38,2)) AS sy,
             CAST(SUM(x * y) AS DECIMAL(38,4)) AS sxy
      FROM spend GROUP BY 1
    ),
    fits AS (
      SELECT treated, n,
             round((CAST(sxx AS DOUBLE) * CAST(sy AS DOUBLE)
                    - CAST(sx AS DOUBLE) * CAST(sxy AS DOUBLE))
                   / (n * CAST(sxx AS DOUBLE)
                      - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)), 4)
               AS icpt
      FROM sides
    )
    SELECT t.n AS n_treated, c.n AS n_control,
           t.icpt AS limit_above, c.icpt AS limit_below,
           round(t.icpt - c.icpt, 4) AS rdd_effect
    FROM fits t JOIN fits c ON t.treated = 1 AND c.treated = 0
    """,
)
def q_regression_discontinuity(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = t(spark, sf_dir, "customer")
    orders = t(spark, sf_dir, "orders")
    spend = (
        cust.where((F.col("c_acctbal") >= 3000) & (F.col("c_acctbal") < 7000))
        .join(orders, F.col("o_custkey") == F.col("c_custkey"))
        .groupBy("c_custkey", "c_acctbal")
        .agg(F.sum("o_totalprice").cast("decimal(38,2)").alias("y"))
        .select(
            (F.col("c_acctbal").cast("decimal(18,2)") - 5000).alias("x"), "y"
        )
    )
    sides = spend.groupBy(
        F.when(F.col("x") >= 0, 1).otherwise(0).alias("treated")
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("x").cast("decimal(38,2)").alias("sx"),
        F.sum(F.col("x") * F.col("x")).cast("decimal(38,4)").alias("sxx"),
        F.sum("y").cast("decimal(38,2)").alias("sy"),
        F.sum(F.col("x") * F.col("y")).cast("decimal(38,4)").alias("sxy"),
    )
    d = lambda c: F.col(c).cast("double")  # noqa: E731
    fits = sides.select(
        "treated",
        "n",
        F.round(
            (d("sxx") * d("sy") - d("sx") * d("sxy"))
            / (F.col("n") * d("sxx") - d("sx") * d("sx")),
            4,
        ).alias("icpt"),
    )
    tr = fits.where(F.col("treated") == 1).select(
        F.col("n").alias("n_treated"), F.col("icpt").alias("limit_above")
    )
    ct = fits.where(F.col("treated") == 0).select(
        F.col("n").alias("n_control"), F.col("icpt").alias("limit_below")
    )
    return tr.crossJoin(ct).select(
        "n_treated",
        "n_control",
        "limit_above",
        "limit_below",
        F.round(F.col("limit_above") - F.col("limit_below"), 4).alias(
            "rdd_effect"
        ),
    )


# ---------------------------------------------------------------------------
# Instrumental-variable Wald estimator — the simplest consistent
# answer when exposure is endogenous: with user-id parity as the
# (synthetic) encouragement instrument z, exposure x = click count
# and outcome y = purchase value, the causal slope is
# (E[y|z=1] - E[y|z=0]) / (E[x|z=1] - E[x|z=0]). All four cell
# moments are exact (integer counts, 2-dp decimal sums); the ratio
# of differences is the only float step. The first-stage strength
# (denominator) ships in-row so a weak instrument is visible.
@_q(
    "iv_wald_estimator",
    """
    WITH peruser AS (
      SELECT user_id, CAST(user_id % 2 AS BIGINT) AS z,
             CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
                  AS BIGINT) AS x,
             CAST(SUM(CASE WHEN event_type = 'purchase'
                           THEN CAST(round(value, 2) AS DECIMAL(38,2))
                           ELSE CAST(0 AS DECIMAL(38,2)) END)
                  AS DECIMAL(38,2)) AS y
      FROM events GROUP BY user_id
    ),
    cells AS (
      SELECT z, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(x) AS DECIMAL(38,0)) AS sx,
             CAST(SUM(y) AS DECIMAL(38,2)) AS sy
      FROM peruser GROUP BY z
    )
    SELECT a.n AS n_encouraged, b.n AS n_control,
           round(CAST(a.sx AS DOUBLE) / a.n
                 - CAST(b.sx AS DOUBLE) / b.n, 9) AS first_stage,
           round((CAST(a.sy AS DOUBLE) / a.n - CAST(b.sy AS DOUBLE) / b.n)
                 / (CAST(a.sx AS DOUBLE) / a.n
                    - CAST(b.sx AS DOUBLE) / b.n), 9) AS wald_estimate
    FROM cells a JOIN cells b ON a.z = 1 AND b.z = 0
    """,
)
def q_iv_wald_estimator(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events")
    zero2 = F.lit(0).cast("decimal(38,2)")
    peruser = ev.groupBy("user_id").agg(
        F.sum(F.when(F.col("event_type") == "click", 1).otherwise(0))
        .cast("bigint")
        .alias("x"),
        F.sum(
            F.when(
                F.col("event_type") == "purchase",
                F.round(F.col("value"), 2).cast("decimal(38,2)"),
            ).otherwise(zero2)
        )
        .cast("decimal(38,2)")
        .alias("y"),
    ).select((F.col("user_id") % 2).cast("bigint").alias("z"), "x", "y")
    cells = peruser.groupBy("z").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("x").cast("decimal(38,0)").alias("sx"),
        F.sum("y").cast("decimal(38,2)").alias("sy"),
    )
    a = cells.where(F.col("z") == 1).select(
        F.col("n").alias("na"), F.col("sx").alias("sxa"), F.col("sy").alias("sya")
    )
    b = cells.where(F.col("z") == 0).select(
        F.col("n").alias("nb"), F.col("sx").alias("sxb"), F.col("sy").alias("syb")
    )
    d = lambda c: F.col(c).cast("double")  # noqa: E731
    fs = d("sxa") / F.col("na") - d("sxb") / F.col("nb")
    return a.crossJoin(b).select(
        F.col("na").alias("n_encouraged"),
        F.col("nb").alias("n_control"),
        F.round(fs, 9).alias("first_stage"),
        F.round(
            (d("sya") / F.col("na") - d("syb") / F.col("nb")) / fs, 9
        ).alias("wald_estimate"),
    )


# ---------------------------------------------------------------------------
# Oaxaca-Blinder decomposition — the econometric standard for "how
# much of a group gap is composition vs treatment of composition":
# the BUILDING-vs-MACHINERY mean-spend gap splits into the part
# explained by different balance distributions (reference
# coefficients x endowment difference) and the unexplained remainder
# (coefficient difference at the comparison group's mean). Both
# groups' simple regressions are closed-form from exact decimal
# moments (n, Sx, Sxx, Sy, Sxy); decomposition identity
# gap = explained + unexplained is checked by construction. Outputs
# round to 4 dp (the RDD spend-magnitude discipline).
@_q(
    "oaxaca_blinder_gap",
    """
    WITH spend AS (
      SELECT c.c_mktsegment AS g,
             CAST(c.c_acctbal AS DECIMAL(18,2)) AS x,
             CAST(SUM(o.o_totalprice) AS DECIMAL(38,2)) AS y
      FROM customer c JOIN orders o ON o.o_custkey = c.c_custkey
      WHERE c.c_mktsegment IN ('BUILDING', 'MACHINERY')
      GROUP BY c.c_custkey, c.c_mktsegment, c.c_acctbal
    ),
    mom AS (
      SELECT g, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(x) AS DECIMAL(38,2)) AS sx,
             CAST(SUM(x * x) AS DECIMAL(38,4)) AS sxx,
             CAST(SUM(y) AS DECIMAL(38,2)) AS sy,
             CAST(SUM(x * y) AS DECIMAL(38,4)) AS sxy
      FROM spend GROUP BY g
    ),
    fit AS (
      SELECT g, n,
             CAST(sy AS DOUBLE) / n AS ybar,
             CAST(sx AS DOUBLE) / n AS xbar,
             (n * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
               / (n * CAST(sxx AS DOUBLE)
                  - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) AS beta
      FROM mom
    )
    SELECT a.n AS n_building, b.n AS n_machinery,
           round(a.ybar - b.ybar, 4) AS gap,
           round(b.beta * (a.xbar - b.xbar), 4) AS explained,
           round((a.ybar - b.ybar) - b.beta * (a.xbar - b.xbar), 4)
             AS unexplained
    FROM fit a JOIN fit b ON a.g = 'BUILDING' AND b.g = 'MACHINERY'
    """,
)
def q_oaxaca_blinder_gap(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = t(spark, sf_dir, "customer")
    orders = t(spark, sf_dir, "orders")
    spend = (
        cust.where(F.col("c_mktsegment").isin("BUILDING", "MACHINERY"))
        .join(orders, F.col("o_custkey") == F.col("c_custkey"))
        .groupBy("c_custkey", "c_mktsegment", "c_acctbal")
        .agg(F.sum("o_totalprice").cast("decimal(38,2)").alias("y"))
        .select(
            F.col("c_mktsegment").alias("g"),
            F.col("c_acctbal").cast("decimal(18,2)").alias("x"),
            "y",
        )
    )
    mom = spend.groupBy("g").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("x").cast("decimal(38,2)").alias("sx"),
        F.sum(F.col("x") * F.col("x")).cast("decimal(38,4)").alias("sxx"),
        F.sum("y").cast("decimal(38,2)").alias("sy"),
        F.sum(F.col("x") * F.col("y")).cast("decimal(38,4)").alias("sxy"),
    )
    d = lambda c: F.col(c).cast("double")  # noqa: E731
    fit = mom.select(
        "g",
        "n",
        (d("sy") / F.col("n")).alias("ybar"),
        (d("sx") / F.col("n")).alias("xbar"),
        (
            (F.col("n") * d("sxy") - d("sx") * d("sy"))
            / (F.col("n") * d("sxx") - d("sx") * d("sx"))
        ).alias("beta"),
    )
    a = fit.where(F.col("g") == "BUILDING").select(
        F.col("n").alias("n_building"),
        F.col("ybar").alias("ya"),
        F.col("xbar").alias("xa"),
    )
    b = fit.where(F.col("g") == "MACHINERY").select(
        F.col("n").alias("n_machinery"),
        F.col("ybar").alias("yb"),
        F.col("xbar").alias("xb"),
        F.col("beta").alias("bb"),
    )
    return a.crossJoin(b).select(
        "n_building",
        "n_machinery",
        F.round(F.col("ya") - F.col("yb"), 4).alias("gap"),
        F.round(F.col("bb") * (F.col("xa") - F.col("xb")), 4).alias(
            "explained"
        ),
        F.round(
            (F.col("ya") - F.col("yb"))
            - F.col("bb") * (F.col("xa") - F.col("xb")),
            4,
        ).alias("unexplained"),
    )


# ---------------------------------------------------------------------------
# Two-way fixed-effects panel estimator — the workhorse "within"
# regression: on the brand x month revenue/quantity panel, the slope
# of revenue on quantity after absorbing BOTH brand and month fixed
# effects, beta = sum(x~ y~) / sum(x~^2) with the double-demeaned
# x~ = x - xbar_brand - xbar_month + xbar. Every mean comes from
# exact decimal sums; per-cell demeaned products are rounded to the
# 1e-6 lattice and summed in DECIMAL, so the two-pass plan (one
# rollup, one broadcast-joined demeaning pass) is bit-stable at any
# panel size. The pooled-OLS slope ships alongside — the gap IS the
# fixed-effect confounding.
@_q(
    "panel_twoway_fe",
    """
    WITH panel AS (
      SELECT p.p_brand AS b,
             CAST(year(l.l_shipdate) * 12 + month(l.l_shipdate) AS BIGINT)
               AS m,
             CAST(CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2)))
                       AS DECIMAL(38,2)) AS DOUBLE) / 1000 AS y,
             CAST(CAST(SUM(CAST(l.l_quantity AS BIGINT)) AS DECIMAL(38,0))
                  AS DOUBLE) AS x
      FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
      GROUP BY 1, 2
    ),
    gm AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             round(CAST(SUM(CAST(round(x, 6) AS DECIMAL(38,6))) AS DOUBLE)
                   / COUNT(*), 12) AS xb,
             round(CAST(SUM(CAST(round(y, 6) AS DECIMAL(38,6))) AS DOUBLE)
                   / COUNT(*), 12) AS yb
      FROM panel
    ),
    bm AS (
      SELECT b, round(CAST(SUM(CAST(round(x, 6) AS DECIMAL(38,6))) AS DOUBLE)
                      / COUNT(*), 12) AS xbb,
             round(CAST(SUM(CAST(round(y, 6) AS DECIMAL(38,6))) AS DOUBLE)
                   / COUNT(*), 12) AS ybb
      FROM panel GROUP BY b
    ),
    mm AS (
      SELECT m, round(CAST(SUM(CAST(round(x, 6) AS DECIMAL(38,6))) AS DOUBLE)
                      / COUNT(*), 12) AS xbm,
             round(CAST(SUM(CAST(round(y, 6) AS DECIMAL(38,6))) AS DOUBLE)
                   / COUNT(*), 12) AS ybm
      FROM panel GROUP BY m
    ),
    dem AS (
      SELECT (p.x - bm.xbb - mm.xbm + gm.xb) AS xt,
             (p.y - bm.ybb - mm.ybm + gm.yb) AS yt,
             p.x - gm.xb AS xp, p.y - gm.yb AS yp
      FROM panel p JOIN bm ON bm.b = p.b JOIN mm ON mm.m = p.m
      CROSS JOIN gm
    )
    SELECT (SELECT n FROM gm) AS n_cells,
           round(CAST(SUM(CAST(round(xt * yt, 6) AS DECIMAL(38,6)))
                      AS DOUBLE)
                 / CAST(SUM(CAST(round(xt * xt, 6) AS DECIMAL(38,6)))
                        AS DOUBLE), 9) AS fe_slope,
           round(CAST(SUM(CAST(round(xp * yp, 6) AS DECIMAL(38,6)))
                      AS DOUBLE)
                 / CAST(SUM(CAST(round(xp * xp, 6) AS DECIMAL(38,6)))
                        AS DOUBLE), 9) AS pooled_slope
    FROM dem
    """,
)
def q_panel_twoway_fe(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem")
    part = t(spark, sf_dir, "part")
    panel = (
        li.join(
            F.broadcast(part.select("p_partkey", "p_brand")),
            F.col("l_partkey") == F.col("p_partkey"),
        )
        .groupBy(
            F.col("p_brand").alias("b"),
            (
                F.year("l_shipdate").cast("bigint") * 12
                + F.month("l_shipdate").cast("bigint")
            ).alias("m"),
        )
        .agg(
            (
                F.sum(F.col("l_extendedprice").cast("decimal(18,2)"))
                .cast("decimal(38,2)")
                .cast("double")
                / 1000
            ).alias("y"),
            F.sum(F.col("l_quantity").cast("bigint"))
            .cast("decimal(38,0)")
            .cast("double")
            .alias("x"),
        )
        .localCheckpoint(eager=True)
    )
    d6 = lambda c: F.round(c, 6).cast("decimal(38,6)")  # noqa: E731

    def means(df, keys, px, py):
        agg = df.groupBy(*keys).agg(
            F.round(F.sum(d6(F.col("x"))).cast("double") / F.count(F.lit(1)), 12)
            .alias(px),
            F.round(F.sum(d6(F.col("y"))).cast("double") / F.count(F.lit(1)), 12)
            .alias(py),
        )
        return agg

    gm = panel.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.round(F.sum(d6(F.col("x"))).cast("double") / F.count(F.lit(1)), 12)
        .alias("xb"),
        F.round(F.sum(d6(F.col("y"))).cast("double") / F.count(F.lit(1)), 12)
        .alias("yb"),
    )
    bm = means(panel, ["b"], "xbb", "ybb")
    mm = means(panel, ["m"], "xbm", "ybm")
    dem = (
        panel.join(F.broadcast(bm), "b")
        .join(F.broadcast(mm), "m")
        .crossJoin(F.broadcast(gm))
        .select(
            (F.col("x") - F.col("xbb") - F.col("xbm") + F.col("xb")).alias("xt"),
            (F.col("y") - F.col("ybb") - F.col("ybm") + F.col("yb")).alias("yt"),
            (F.col("x") - F.col("xb")).alias("xp"),
            (F.col("y") - F.col("yb")).alias("yp"),
            "n",
        )
    )
    return dem.agg(
        F.max("n").alias("n_cells"),
        F.round(
            F.sum(d6(F.col("xt") * F.col("yt"))).cast("double")
            / F.sum(d6(F.col("xt") * F.col("xt"))).cast("double"),
            9,
        ).alias("fe_slope"),
        F.round(
            F.sum(d6(F.col("xp") * F.col("yp"))).cast("double")
            / F.sum(d6(F.col("xp") * F.col("xp"))).cast("double"),
            9,
        ).alias("pooled_slope"),
    )


# ---------------------------------------------------------------------------
# Cox proportional hazards (Cox 1972), one binary covariate (the
# logrank_test cohort split — at beta=0 the Newton score IS the
# logrank statistic), Breslow tie handling, 4 Newton sweeps. The
# partial likelihood reduces to the SAME per-distinct-event-time
# integer table as logrank (d, d1, n, n1 via reverse cumulative
# windows); each sweep needs only U(b) = D1 − Σ d·n1·e^b/(n0+n1·e^b)
# and I(b) = Σ d·n0·n1·e^b/(n0+n1·e^b)², computed with per-time terms
# round(12)-latticed and DECIMAL-summed (order-free), and the scalar
# update b ← round(b + U/I, 12) routed through Spark ROUND on a 1-row
# select (the EM/IRLS bounded-collect discipline; the DuckDB twin
# unrolls the same four sweeps as MATERIALIZED CTEs). 100 TB: spells
# reduce to the bounded distinct-time table in one aggregation; each
# sweep is one scan of that table; driver traffic is 2 scalars/sweep.
_COX_SWEEPS = 4


def _sql_cox_ph() -> str:
    ctes = [
        """per_user AS (
      SELECT user_id,
             min(ts) AS t0,
             min(CASE WHEN event_type = 'purchase' THEN ts END) AS t_ev,
             max(ts) AS t_last
      FROM events GROUP BY user_id
    ),
    spells AS (
      SELECT CASE WHEN t_ev IS NOT NULL
                  THEN CAST(date_diff('second', t0, t_ev) AS BIGINT)
                  ELSE CAST(date_diff('second', t0, t_last) AS BIGINT)
             END AS t_sec,
             (t_ev IS NOT NULL) AS observed,
             CAST(user_id % 2 AS INT) AS grp
      FROM per_user
    ),
    times AS (
      SELECT t_sec,
             COUNT(*) FILTER (observed) AS d,
             COUNT(*) FILTER (observed AND grp = 1) AS d1,
             COUNT(*) AS leaving,
             COUNT(*) FILTER (grp = 1) AS leaving1
      FROM spells GROUP BY t_sec
    ),
    risk AS MATERIALIZED (
      SELECT t_sec, d, d1, n - n1 AS n0, n1
      FROM (
        SELECT t_sec, d, d1,
               SUM(leaving) OVER (ORDER BY t_sec DESC
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS n,
               SUM(leaving1) OVER (ORDER BY t_sec DESC
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS n1
        FROM times
      ) WHERE d > 0
    ),
    b0 AS (SELECT CAST(0 AS DOUBLE) AS b)"""
    ]
    for k in range(_COX_SWEEPS):
        ctes.append(
            f"""u{k} AS (
      SELECT b{k}.b AS b,
             (SELECT CAST(SUM(d1) AS DOUBLE) FROM risk)
             - CAST((SELECT SUM(CAST(round(
                   CAST(d AS DOUBLE) * n1 * exp(b{k}.b)
                   / (n0 + n1 * exp(b{k}.b)), 12) AS DECIMAL(38,12)))
                 FROM risk) AS DOUBLE) AS u,
             CAST((SELECT SUM(CAST(round(
                   CAST(d AS DOUBLE) * n0 * n1 * exp(b{k}.b)
                   / POWER(n0 + n1 * exp(b{k}.b), 2), 12)
                   AS DECIMAL(38,12)))
                 FROM risk) AS DOUBLE) AS i
      FROM b{k}
    ),
    b{k + 1} AS (SELECT round(b + u / i, 12) AS b FROM u{k})"""
        )
    return (
        "WITH "
        + ",\n    ".join(ctes)
        + f"""
    SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM risk) AS n_event_times,
           (SELECT CAST(SUM(d1) AS BIGINT) FROM risk) AS d1_total,
           round(b, 6) AS beta,
           round(exp(b), 6) AS hazard_ratio
    FROM b{_COX_SWEEPS}
    """
    )


@_q("cox_ph_binary", _sql_cox_ph())
def q_cox_ph_binary(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(
        F.min("ts").alias("t0"),
        F.min(F.when(F.col("event_type") == "purchase", F.col("ts"))).alias(
            "t_ev"
        ),
        F.max("ts").alias("t_last"),
    )
    t_end = F.coalesce(F.col("t_ev"), F.col("t_last"))
    spells = per_user.select(
        (F.unix_timestamp(t_end) - F.unix_timestamp(F.col("t0")))
        .cast("bigint")
        .alias("t_sec"),
        F.col("t_ev").isNotNull().alias("observed"),
        (F.col("user_id") % 2).cast("int").alias("grp"),
    )
    times = spells.groupBy("t_sec").agg(
        F.sum(F.when(F.col("observed"), 1).otherwise(0)).alias("d"),
        F.sum(
            F.when(F.col("observed") & (F.col("grp") == 1), 1).otherwise(0)
        ).alias("d1"),
        F.count("*").alias("leaving"),
        F.sum(F.when(F.col("grp") == 1, 1).otherwise(0)).alias("leaving1"),
    )
    w_desc = Window.orderBy(F.desc("t_sec")).rowsBetween(
        Window.unboundedPreceding, 0
    )
    risk = (
        times.select(
            "t_sec",
            "d",
            "d1",
            (F.sum("leaving").over(w_desc) - F.sum("leaving1").over(w_desc))
            .alias("n0"),
            F.sum("leaving1").over(w_desc).alias("n1"),
        )
        .where(F.col("d") > 0)
        .localCheckpoint(eager=True)  # bounded distinct-time table
    )
    head = risk.agg(
        F.count(F.lit(1)).cast("bigint").alias("nt"),
        F.sum("d1").cast("bigint").alias("d1t"),
    ).collect()[0]
    n_times, d1_total = int(head["nt"]), int(head["d1t"])

    def jround(e) -> float:
        return (
            risk.sparkSession.range(1)
            .select(F.round(F.lit(e).cast("double"), 12).alias("c"))
            .collect()[0]["c"]
        )

    b = 0.0
    dd = F.col("d").cast("double")
    for _ in range(_COX_SWEEPS):
        eb = F.exp(F.lit(b))
        denom = F.col("n0") + F.col("n1") * eb
        s = risk.agg(
            F.sum(
                F.round(dd * F.col("n1") * eb / denom, 12).cast(
                    "decimal(38,12)"
                )
            ).alias("su"),
            F.sum(
                F.round(
                    dd * F.col("n0") * F.col("n1") * eb / F.pow(denom, 2),
                    12,
                ).cast("decimal(38,12)")
            ).alias("si"),
        ).collect()[0]
        u = float(d1_total) - float(s["su"])
        i = float(s["si"])
        b = jround(b + u / i)
    return risk.sparkSession.range(1).select(
        F.lit(n_times).cast("bigint").alias("n_event_times"),
        F.lit(d1_total).cast("bigint").alias("d1_total"),
        F.round(F.lit(b), 6).alias("beta"),
        F.round(F.exp(F.lit(b)), 6).alias("hazard_ratio"),
    )


# ---------------------------------------------------------------------------
# Matthews correlation coefficient for the mcnemar_paired_models rule
# classifiers (which see) — the single-number confusion summary that
# stays honest under class imbalance, reported per model so the two
# MCCs are comparable alongside the McNemar discordance test.
# MCC = (TP·TN − FP·FN)/sqrt((TP+FP)(TP+FN)(TN+FP)(TN+FN)); all four
# cells are exact BIGINTs from one scan, the score one closed form.
@_q(
    "matthews_corrcoef_models",
    """
    WITH p AS (
      SELECT CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                  THEN 1 ELSE 0 END AS y,
             CASE WHEN o_totalprice > 150000 THEN 1 ELSE 0 END AS a,
             CASE WHEN o_totalprice > 100000 AND o_orderstatus = 'F'
                  THEN 1 ELSE 0 END AS b
      FROM orders
    ),
    cm AS (
      SELECT m.model,
             CAST(SUM(CASE WHEN pred = 1 AND y = 1 THEN 1 ELSE 0 END)
                  AS BIGINT) AS tp,
             CAST(SUM(CASE WHEN pred = 0 AND y = 0 THEN 1 ELSE 0 END)
                  AS BIGINT) AS tn,
             CAST(SUM(CASE WHEN pred = 1 AND y = 0 THEN 1 ELSE 0 END)
                  AS BIGINT) AS fp,
             CAST(SUM(CASE WHEN pred = 0 AND y = 1 THEN 1 ELSE 0 END)
                  AS BIGINT) AS fn
      FROM (
        SELECT y, 'price_150k' AS model, a AS pred FROM p
        UNION ALL
        SELECT y, 'price_100k_F', b FROM p
      ) m GROUP BY 1
    )
    SELECT model, tp, tn, fp, fn,
           round((CAST(tp AS DOUBLE) * tn - CAST(fp AS DOUBLE) * fn)
                 / sqrt(CAST(tp + fp AS DOUBLE) * (tp + fn)
                        * (tn + fp) * (tn + fn)), 6) AS mcc
    FROM cm ORDER BY model
    """,
)
def q_matthews_corrcoef_models(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = t(spark, sf_dir, "orders")
    y = F.when(
        F.col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1
    ).otherwise(0)
    a = F.when(F.col("o_totalprice") > 150000, 1).otherwise(0)
    b = F.when(
        (F.col("o_totalprice") > 100000) & (F.col("o_orderstatus") == "F"), 1
    ).otherwise(0)
    base = o.select(y.alias("y"), a.alias("a"), b.alias("b"))
    m = base.select(
        "y", F.lit("price_150k").alias("model"), F.col("a").alias("pred")
    ).unionByName(
        base.select(
            "y", F.lit("price_100k_F").alias("model"), F.col("b").alias("pred")
        )
    )
    cm = m.groupBy("model").agg(
        F.sum(F.when((F.col("pred") == 1) & (F.col("y") == 1), 1).otherwise(0))
        .cast("bigint")
        .alias("tp"),
        F.sum(F.when((F.col("pred") == 0) & (F.col("y") == 0), 1).otherwise(0))
        .cast("bigint")
        .alias("tn"),
        F.sum(F.when((F.col("pred") == 1) & (F.col("y") == 0), 1).otherwise(0))
        .cast("bigint")
        .alias("fp"),
        F.sum(F.when((F.col("pred") == 0) & (F.col("y") == 1), 1).otherwise(0))
        .cast("bigint")
        .alias("fn"),
    )
    tp, tn, fp, fn = (F.col(x) for x in ("tp", "tn", "fp", "fn"))
    return cm.select(
        "model",
        "tp",
        "tn",
        "fp",
        "fn",
        F.round(
            (tp.cast("double") * tn - fp.cast("double") * fn)
            / F.sqrt(
                (tp + fp).cast("double") * (tp + fn) * (tn + fp) * (tn + fn)
            ),
            6,
        ).alias("mcc"),
    ).orderBy("model")
