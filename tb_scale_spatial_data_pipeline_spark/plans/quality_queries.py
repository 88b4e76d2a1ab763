"""Data-quality and audit operators: expectation checks, referential
integrity, and snapshot deltas — the validation layer a production
lake runs before promoting data.

Every check is a full-scan aggregate (map-side combinable, one
Exchange of per-check scalars) or a key-level anti/outer join — the
shapes that stay cheap at 100 TB because only violation COUNTS and
tiny violation samples move, never the passing rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ._util import t, registry

QUERIES, ORACLES, _q = registry()


# ---------------------------------------------------------------------------
# Expectation suite over lineitem — the table-contract check (null
# fraction, value ranges, set membership, uniqueness), one row per
# expectation with the measured metric and pass/fail. All checks
# compute in ONE scan: conditional aggregates, no per-check passes.
@_q(
    "dq_expectations",
    """
    WITH m AS (
      SELECT
        COUNT(*) AS n_rows,
        COUNT(*) - COUNT(l_orderkey) AS null_orderkey,
        COUNT(*) FILTER (l_quantity < 1 OR l_quantity > 50) AS bad_qty,
        COUNT(*) FILTER (l_discount < 0 OR l_discount > 0.1) AS bad_disc,
        COUNT(*) FILTER (l_returnflag NOT IN ('A', 'N', 'R')) AS bad_flag,
        COUNT(*) - COUNT(DISTINCT (l_orderkey, l_linenumber)) AS dup_keys
      FROM lineitem
    )
    SELECT * FROM (
      SELECT 'orderkey_not_null' AS expectation,
             CAST(null_orderkey AS BIGINT) AS violations,
             null_orderkey = 0 AS passed FROM m
      UNION ALL
      SELECT 'quantity_in_1_50', CAST(bad_qty AS BIGINT), bad_qty = 0 FROM m
      UNION ALL
      SELECT 'discount_in_0_01', CAST(bad_disc AS BIGINT), bad_disc = 0 FROM m
      UNION ALL
      SELECT 'returnflag_domain', CAST(bad_flag AS BIGINT), bad_flag = 0 FROM m
      UNION ALL
      SELECT 'pk_unique', CAST(dup_keys AS BIGINT), dup_keys = 0 FROM m
    )
    """,
)
def q_dq_expectations(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem")
    m = li.agg(
        (F.count(F.lit(1)) - F.count("l_orderkey")).alias("null_orderkey"),
        F.count_if(
            (F.col("l_quantity") < 1) | (F.col("l_quantity") > 50)
        ).alias("bad_qty"),
        F.count_if(
            (F.col("l_discount") < 0) | (F.col("l_discount") > 0.1)
        ).alias("bad_disc"),
        F.count_if(~F.col("l_returnflag").isin("A", "N", "R")).alias("bad_flag"),
        (
            F.count(F.lit(1))
            - F.countDistinct(F.struct("l_orderkey", "l_linenumber"))
        ).alias("dup_keys"),
    )
    checks = [
        ("orderkey_not_null", "null_orderkey"),
        ("quantity_in_1_50", "bad_qty"),
        ("discount_in_0_01", "bad_disc"),
        ("returnflag_domain", "bad_flag"),
        ("pk_unique", "dup_keys"),
    ]
    rows = None
    for name, col in checks:
        row = m.select(
            F.lit(name).alias("expectation"),
            F.col(col).cast("bigint").alias("violations"),
            (F.col(col) == 0).alias("passed"),
        )
        rows = row if rows is None else rows.unionByName(row)
    return rows


# ---------------------------------------------------------------------------
# Referential-integrity audit across the whole star schema: orphan
# counts for every FK edge in one result table. Each edge is a
# LEFT-ANTI join (fact keys with no dim match) reduced to a count —
# at 100 TB each check shuffles only the distinct keys of the fact
# side, and broadcast applies when the dim is small.
@_q(
    "fk_orphan_audit",
    """
    SELECT * FROM (
      SELECT 'lineitem.l_orderkey->orders' AS fk_edge,
             (SELECT COUNT(*) FROM (SELECT DISTINCT l_orderkey FROM lineitem) f
              WHERE NOT EXISTS (SELECT 1 FROM orders o
                                WHERE o.o_orderkey = f.l_orderkey))
               AS orphan_keys
      UNION ALL
      SELECT 'orders.o_custkey->customer',
             (SELECT COUNT(*) FROM (SELECT DISTINCT o_custkey FROM orders) f
              WHERE NOT EXISTS (SELECT 1 FROM customer c
                                WHERE c.c_custkey = f.o_custkey))
      UNION ALL
      SELECT 'customer.c_nationkey->nation',
             (SELECT COUNT(*) FROM (SELECT DISTINCT c_nationkey FROM customer) f
              WHERE NOT EXISTS (SELECT 1 FROM nation n
                                WHERE n.n_nationkey = f.c_nationkey))
      UNION ALL
      SELECT 'supplier.s_nationkey->nation',
             (SELECT COUNT(*) FROM (SELECT DISTINCT s_nationkey FROM supplier) f
              WHERE NOT EXISTS (SELECT 1 FROM nation n
                                WHERE n.n_nationkey = f.s_nationkey))
      UNION ALL
      SELECT 'nation.n_regionkey->region',
             (SELECT COUNT(*) FROM (SELECT DISTINCT n_regionkey FROM nation) f
              WHERE NOT EXISTS (SELECT 1 FROM region r
                                WHERE r.r_regionkey = f.n_regionkey))
    )
    """,
)
def q_fk_orphan_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    edges = [
        ("lineitem.l_orderkey->orders", "lineitem", "l_orderkey", "orders", "o_orderkey"),
        ("orders.o_custkey->customer", "orders", "o_custkey", "customer", "c_custkey"),
        ("customer.c_nationkey->nation", "customer", "c_nationkey", "nation", "n_nationkey"),
        ("supplier.s_nationkey->nation", "supplier", "s_nationkey", "nation", "n_nationkey"),
        ("nation.n_regionkey->region", "nation", "n_regionkey", "region", "r_regionkey"),
    ]
    rows = None
    for label, fact, fk, dim, pk in edges:
        orphans = (
            t(spark, sf_dir, fact)
            .select(F.col(fk).alias("k"))
            .distinct()
            .join(
                t(spark, sf_dir, dim).select(F.col(pk).alias("k")),
                "k",
                "left_anti",
            )
            .agg(F.count(F.lit(1)).alias("orphan_keys"))
            .select(F.lit(label).alias("fk_edge"), "orphan_keys")
        )
        rows = orphans if rows is None else rows.unionByName(orphans)
    return rows


# ---------------------------------------------------------------------------
# Snapshot delta audit (CDC-style): per-user purchase totals as of
# day 2 vs as of day 30 (the early cutoff makes 'added' users real
# on the fixture — a full-month cutoff degenerates to all-'changed'),
# classified added / changed / unchanged —
# the diff a lake computes to validate an incremental load against a
# full recompute. FULL OUTER join on the entity key; only per-key
# aggregates move. ('removed' is structurally impossible with
# append-only events but the class stays in the contract — an
# incremental pipeline that produced one would be broken.)
@_q(
    "snapshot_delta_audit",
    """
    WITH a AS (
      SELECT user_id, COUNT(*) AS n,
             CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total
      FROM events
      WHERE event_type = 'purchase' AND ts < TIMESTAMP '2024-01-03'
      GROUP BY user_id
    ),
    b AS (
      SELECT user_id, COUNT(*) AS n,
             CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total
      FROM events
      WHERE event_type = 'purchase'
      GROUP BY user_id
    )
    SELECT
      CASE WHEN a.user_id IS NULL THEN 'added'
           WHEN b.user_id IS NULL THEN 'removed'
           WHEN a.n <> b.n OR a.total <> b.total THEN 'changed'
           ELSE 'unchanged' END AS delta_class,
      COUNT(*) AS n_users,
      CAST(SUM(COALESCE(b.n, 0) - COALESCE(a.n, 0)) AS BIGINT) AS added_rows
    FROM a FULL OUTER JOIN b ON b.user_id = a.user_id
    GROUP BY 1
    """,
)
def q_snapshot_delta_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events").where(F.col("event_type") == "purchase")

    def snap(df: DataFrame, prefix: str) -> DataFrame:
        return df.groupBy(F.col("user_id").alias(f"{prefix}_user")).agg(
            F.count(F.lit(1)).alias(f"{prefix}_n"),
            F.sum(F.col("value").cast("decimal(18,2)"))
            .cast("double")
            .alias(f"{prefix}_total"),
        )

    a = snap(ev.where(F.col("ts") < F.lit("2024-01-03").cast("timestamp")), "a")
    b = snap(ev, "b")
    j = a.join(b, F.col("a_user") == F.col("b_user"), "full_outer")
    cls = (
        F.when(F.col("a_user").isNull(), "added")
        .when(F.col("b_user").isNull(), "removed")
        .when(
            (F.col("a_n") != F.col("b_n"))
            | (F.col("a_total") != F.col("b_total")),
            "changed",
        )
        .otherwise("unchanged")
    )
    return j.groupBy(cls.alias("delta_class")).agg(
        F.count(F.lit(1)).alias("n_users"),
        F.sum(
            F.coalesce(F.col("b_n"), F.lit(0)) - F.coalesce(F.col("a_n"), F.lit(0))
        )
        .cast("bigint")
        .alias("added_rows"),
    )


# ---------------------------------------------------------------------------
# Differentially-private noisy counts (Laplace mechanism) with
# ENGINE-REPRODUCIBLE noise: the uniform draw is the first 8 hex chars
# of md5(lang|source) — a deterministic function of the group key, so
# Spark and DuckDB derive bit-identical "randomness" (the repo's
# seeded-md5 idiom, same as weighted_sample_orders / poisson_bootstrap).
# noise = -b * sign(u-0.5) * ln(1 - 2|u-0.5|) is the standard inverse-
# CDF Laplace transform; b = sensitivity/epsilon = 1/0.5 for a count.
# At 100 TB this is one aggregation + a scalar expression per group —
# the DP release adds zero distributed work. ln is transcendental →
# round(...,6) last-ulp seam.
_DP_EPSILON = 0.5
_DP_B = 1.0 / _DP_EPSILON


@_q(
    "dp_noisy_counts",
    f"""
    WITH counts AS (
      SELECT lang, source, COUNT(*) AS true_count
      FROM documents GROUP BY lang, source
    ), draws AS (
      SELECT lang, source, true_count,
             CAST(('0x' || substring(md5(lang || '|' || source), 1, 8))
                  AS BIGINT) / 4294967296.0 AS u
      FROM counts
    )
    SELECT lang, source, true_count,
           round(true_count
                 - {_DP_B} * sign(u - 0.5) * ln(1.0 - 2.0 * abs(u - 0.5)),
                 6) AS noisy_count
    FROM draws
    ORDER BY lang, source
    """,
)
def q_dp_noisy_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents")
    counts = docs.groupBy("lang", "source").agg(
        F.count(F.lit(1)).alias("true_count")
    )
    u = (
        F.conv(
            F.substring(
                F.md5(F.concat_ws("|", F.col("lang"), F.col("source"))), 1, 8
            ),
            16,
            10,
        ).cast("bigint")
        / F.lit(4294967296.0)
    )
    noise = (
        -F.lit(_DP_B)
        * F.signum(u - 0.5)
        * F.log(F.lit(1.0) - 2.0 * F.abs(u - 0.5))
    )
    return counts.select(
        "lang",
        "source",
        "true_count",
        F.round(F.col("true_count") + noise, 6).alias("noisy_count"),
    ).orderBy("lang", "source")


# ---------------------------------------------------------------------------
# PSI drift report (population stability index) — the standard ML-
# monitoring statistic for "did the distribution move between the
# reference window and now". Reference = orders in the first half of
# the date range, current = second half; reference DECILE boundaries
# are order statistics of the reference window, tiebroken by
# o_orderkey so the ref row->bin map is a pure function of global
# rank. The Spark side finds them by exact distributed selection
# (operators/quantiles.py — no single-partition ntile window over the
# raw ref half, round-6 verdict item 2) and bins BOTH halves with
# broadcast literal cutpoints: ref rows by the full (v, key)
# cut-tuple (bit-identical to the oracle's tiebroken ntile), current
# rows by the value-only boundary, reproducing the oracle's
# "min bin with v <= hi" rule. Counts are exact integers; the only floats
# are the per-bin share ratio and its ln, emitted PER BIN (rounded) —
# the scalar PSI total is the ordered sum the caller does over 10
# rows, so no cross-engine float accumulation ambiguity exists in the
# hashed output.
_PSI_BINS = 10


@_q(
    "psi_drift_report",
    f"""
    WITH split AS (
      -- integer epoch-ms midpoint: timestamp+interval arithmetic is
      -- engine-fragile, BIGINT halving is not
      SELECT (min(epoch_ms(o_orderdate)) + max(epoch_ms(o_orderdate))) // 2
               AS mid
      FROM orders
    ), ref AS (
      SELECT o_totalprice AS v, o_orderkey AS k FROM orders, split
      WHERE epoch_ms(o_orderdate) < mid
    ), cur AS (
      -- rid: per-row unique id (CTEs expose no rowid) — only the
      -- grouping key for the per-row min-bin, never in the output
      SELECT o_totalprice AS v, row_number() OVER () AS rid
      FROM orders, split
      WHERE epoch_ms(o_orderdate) >= mid
    ), refbin AS (
      SELECT v, ntile({_PSI_BINS}) OVER (ORDER BY v, k) AS bin FROM ref
    ), bounds AS (
      SELECT bin, max(v) AS hi, COUNT(*) AS n_ref FROM refbin GROUP BY bin
    ), curbin AS (
      SELECT COALESCE(min(b.bin), {_PSI_BINS}) AS bin
      FROM cur LEFT JOIN bounds b ON cur.v <= b.hi
      GROUP BY cur.rid
    ), curcounts AS (
      SELECT bin, COUNT(*) AS n_cur FROM curbin GROUP BY bin
    ), tot AS (
      SELECT (SELECT SUM(n_ref) FROM bounds) AS tr,
             (SELECT SUM(n_cur) FROM curcounts) AS tc
    )
    SELECT b.bin, CAST(b.n_ref AS BIGINT) AS n_ref,
           CAST(COALESCE(c.n_cur, 0) AS BIGINT) AS n_cur,
           round((COALESCE(c.n_cur, 0) / CAST(tc AS DOUBLE)
                  - b.n_ref / CAST(tr AS DOUBLE))
                 * ln(GREATEST(COALESCE(c.n_cur, 0), 1) / CAST(tc AS DOUBLE)
                      / (b.n_ref / CAST(tr AS DOUBLE))), 6)
             AS psi_contribution
    FROM bounds b LEFT JOIN curcounts c ON c.bin = b.bin
    CROSS JOIN tot
    ORDER BY b.bin
    """,
)
def q_psi_drift_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = t(spark, sf_dir, "orders").select(
        "o_orderdate", "o_totalprice", "o_orderkey"
    )
    ms = F.unix_millis(F.col("o_orderdate").cast("timestamp"))
    split = orders.agg(
        F.floor((F.min(ms) + F.max(ms)) / 2).cast("bigint").alias("mid")
    )
    # one materialization: ref/cur/binning branches otherwise re-derive
    # the scan+split pipeline (plan audit: 54 Exchanges -> ~1/3)
    w = orders.withColumn("_ms", ms).crossJoin(F.broadcast(split)).localCheckpoint()
    ref = w.where(F.col("_ms") < F.col("mid")).select(
        F.col("o_totalprice").alias("v"), F.col("o_orderkey").alias("k")
    )
    cur = w.where(F.col("_ms") >= F.col("mid")).select(
        F.col("o_totalprice").alias("v")
    )
    from ..operators.quantiles import (
        after_cut,
        exact_order_statistics,
        ntile_cut_positions,
    )

    cuts = exact_order_statistics(
        ref,
        ["v", "k"],
        positions_fn=lambda n: ntile_cut_positions(n, _PSI_BINS),
    )
    ref_bin = F.lit(1)
    for cut in cuts:
        ref_bin = ref_bin + after_cut(["v", "k"], [True, True], cut).cast("int")
    bounds = ref.groupBy(ref_bin.alias("bin")).agg(
        F.count(F.lit(1)).alias("n_ref")
    )
    # current rows bin by the VALUE boundary alone ("min bin whose
    # hi >= v, else the top bin"): hi_i == the v-component of cut i
    cur_bin = F.lit(1)
    for cut in cuts:
        cur_bin = cur_bin + (F.col("v") > F.lit(cut[0])).cast("int")
    curcounts = cur.groupBy(cur_bin.alias("bin")).agg(
        F.count(F.lit(1)).alias("n_cur")
    )
    tr = bounds.agg(F.sum("n_ref").alias("tr"))
    tc = curcounts.agg(F.sum("n_cur").alias("tc"))
    joined = (
        bounds.join(curcounts, "bin", "left")
        .withColumn("n_cur", F.coalesce(F.col("n_cur"), F.lit(0)))
        .crossJoin(F.broadcast(tr))
        .crossJoin(F.broadcast(tc))
    )
    p_ref = F.col("n_ref") / F.col("tr").cast("double")
    p_cur = F.col("n_cur") / F.col("tc").cast("double")
    p_cur_f = F.greatest(F.col("n_cur"), F.lit(1)) / F.col("tc").cast("double")
    return joined.select(
        F.col("bin").cast("bigint").alias("bin"),
        F.col("n_ref").cast("bigint").alias("n_ref"),
        F.col("n_cur").cast("bigint").alias("n_cur"),
        F.round((p_cur - p_ref) * F.log(p_cur_f / p_ref), 6).alias(
            "psi_contribution"
        ),
    ).orderBy("bin")


# ---------------------------------------------------------------------------
# Bot / automation detection score: a composite heuristic per user —
# (a) event rate (events per active hour), (b) inter-arrival
# regularity (low CV = machine-like periodicity), (c) event-type mix
# entropy (bots hammer one endpoint). Each signal is computed on the
# integer/decimal lattice (counts, integer-ms gaps, exact power sums);
# entropy is an ordered fold over the per-type counts; the composite
# score = sum of the three indicator flags. This is the abuse-
# detection readout a rate-limiting pipeline drives; per-user windows
# parallelize trivially.
_BOT_RATE_PER_HR = 12.0
_BOT_CV_FLOOR = 0.30
_BOT_ENTROPY_FLOOR = 1.0


@_q(
    "bot_detection_score",
    f"""
    WITH base AS (
      SELECT user_id, event_type, epoch_ms(ts) AS ms,
             lag(epoch_ms(ts)) OVER (PARTITION BY user_id
                                     ORDER BY ts, event_id) AS prev_ms
      FROM events
    ), gaps AS (
      SELECT user_id, COUNT(*) AS n_gaps,
             SUM(ms - prev_ms) AS s1,
             SUM(CAST(ms - prev_ms AS DECIMAL(38,0)) * (ms - prev_ms)) AS s2
      FROM base WHERE prev_ms IS NOT NULL GROUP BY user_id
    ), counts AS (
      SELECT user_id, event_type, COUNT(*) AS c
      FROM events GROUP BY user_id, event_type
    ), shares AS (
      -- window in its own CTE: DuckDB rejects windows inside
      -- aggregate arguments
      SELECT user_id, event_type, c,
             c / CAST(SUM(c) OVER (PARTITION BY user_id) AS DOUBLE) AS sh
      FROM counts
    ), mix AS (
      SELECT user_id, SUM(c) AS n_events,
             SUM(-1.0 * sh * ln(sh) ORDER BY event_type) AS entropy
      FROM shares GROUP BY user_id
    )
    SELECT g.user_id,
           CAST(m.n_events AS BIGINT) AS n_events,
           round(m.n_events / (CAST(g.s1 AS DOUBLE) / 3600000.0), 6)
             AS events_per_hr,
           round(sqrt((CAST(g.s2 AS DOUBLE) - CAST(g.s1 AS DOUBLE) * g.s1
                       / g.n_gaps) / (g.n_gaps - 1))
                 / (CAST(g.s1 AS DOUBLE) / g.n_gaps), 6) AS gap_cv,
           round(m.entropy, 6) AS type_entropy,
           CAST((CASE WHEN m.n_events / (CAST(g.s1 AS DOUBLE) / 3600000.0)
                           > {_BOT_RATE_PER_HR} THEN 1 ELSE 0 END)
                + (CASE WHEN sqrt((CAST(g.s2 AS DOUBLE)
                                   - CAST(g.s1 AS DOUBLE) * g.s1 / g.n_gaps)
                                  / (g.n_gaps - 1))
                             / (CAST(g.s1 AS DOUBLE) / g.n_gaps)
                             < {_BOT_CV_FLOOR} THEN 1 ELSE 0 END)
                + (CASE WHEN m.entropy < {_BOT_ENTROPY_FLOOR}
                        THEN 1 ELSE 0 END) AS BIGINT) AS bot_score
    FROM gaps g JOIN mix m ON m.user_id = g.user_id
    WHERE g.n_gaps >= 2
    """,
)
def q_bot_detection_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ms = F.floor(F.unix_micros(F.col("ts").cast("timestamp")) / 1000).cast(
        "bigint"
    )
    base = ev.select(
        "user_id", "event_type", ms.alias("ms"), F.lag(ms).over(w).alias("prev_ms")
    )
    gap = F.col("ms") - F.col("prev_ms")
    gaps = (
        base.where(F.col("prev_ms").isNotNull())
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_gaps"),
            F.sum(gap).alias("s1"),
            F.sum(gap.cast("decimal(38,0)") * gap).alias("s2"),
        )
        .where(F.col("n_gaps") >= 2)
    )
    counts = ev.groupBy("user_id", "event_type").agg(
        F.count(F.lit(1)).alias("c")
    )
    wtot = Window.partitionBy("user_id")
    share = F.col("c") / F.sum("c").over(wtot).cast("double")
    terms = counts.select(
        "user_id",
        "event_type",
        "c",
        (-share * F.log(share)).alias("term"),
    )
    mix = terms.groupBy("user_id").agg(
        F.sum("c").alias("n_events"),
        F.expr(
            "aggregate(array_sort(collect_list(struct(event_type, term))),"
            " cast(0.0 as double), (acc, x) -> acc + x.term)"
        ).alias("entropy"),
    )
    j = gaps.join(mix, "user_id")
    hours = F.col("s1").cast("double") / 3600000.0
    rate = F.col("n_events") / hours
    mu = F.col("s1").cast("double") / F.col("n_gaps")
    sd = F.sqrt(
        (F.col("s2").cast("double") - F.col("s1").cast("double") * F.col("s1") / F.col("n_gaps"))
        / (F.col("n_gaps") - 1)
    )
    cv = sd / mu
    score = (
        (rate > _BOT_RATE_PER_HR).cast("int")
        + (cv < _BOT_CV_FLOOR).cast("int")
        + (F.col("entropy") < _BOT_ENTROPY_FLOOR).cast("int")
    )
    return j.select(
        "user_id",
        F.col("n_events").cast("bigint").alias("n_events"),
        F.round(rate, 6).alias("events_per_hr"),
        F.round(cv, 6).alias("gap_cv"),
        F.round("entropy", 6).alias("type_entropy"),
        score.cast("bigint").alias("bot_score"),
    )


# ---------------------------------------------------------------------------
# Column profile (the ANALYZE TABLE / data-profiling report): one pass
# over lineitem emits per-column null count, exact distinct count, and
# min/max rendered to strings — the stats a catalog keeps per column
# and the first thing run against an unknown 100 TB table. One-pass
# shape: all per-column aggregates ride a single scan (no per-column
# jobs); the unpivot to (column, stats) rows happens on the 1-row
# aggregate, not the data.
_PROFILE_COLS = (
    "l_orderkey",
    "l_quantity",
    "l_extendedprice",
    "l_discount",
    "l_shipdate",
    "l_returnflag",
)


def _sql_table_profile() -> str:
    aggs = []
    for c in _PROFILE_COLS:
        aggs.append(
            f"COUNT(*) - COUNT({c}) AS nulls_{c}, "
            f"COUNT(DISTINCT {c}) AS ndv_{c}, "
            f"CAST(MIN({c}) AS VARCHAR) AS min_{c}, "
            f"CAST(MAX({c}) AS VARCHAR) AS max_{c}"
        )
        # DuckDB renders DATE/DECIMAL defaults identically to the
        # Spark casts used below for these column types
    arms = " UNION ALL ".join(
        f"SELECT '{c}' AS column_name, n_rows, nulls_{c} AS n_nulls,"
        f" ndv_{c} AS n_distinct, min_{c} AS min_value, max_{c} AS max_value"
        " FROM m"
        for c in _PROFILE_COLS
    )
    return f"""
    WITH m AS (
      SELECT COUNT(*) AS n_rows, {", ".join(aggs)} FROM lineitem
    )
    SELECT column_name, CAST(n_rows AS BIGINT) AS n_rows,
           CAST(n_nulls AS BIGINT) AS n_nulls,
           CAST(n_distinct AS BIGINT) AS n_distinct,
           min_value, max_value
    FROM ({arms}) ORDER BY column_name
    """


@_q("table_profile_lineitem", _sql_table_profile())
def q_table_profile_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem")
    aggs = [F.count(F.lit(1)).alias("n_rows")]
    for c in _PROFILE_COLS:
        aggs += [
            (F.count(F.lit(1)) - F.count(c)).alias(f"nulls_{c}"),
            F.countDistinct(c).alias(f"ndv_{c}"),
            F.min(c).cast("string").alias(f"min_{c}"),
            F.max(c).cast("string").alias(f"max_{c}"),
        ]
    m = li.agg(*aggs)
    arms = None
    for c in _PROFILE_COLS:
        arm = m.select(
            F.lit(c).alias("column_name"),
            F.col("n_rows").cast("bigint").alias("n_rows"),
            F.col(f"nulls_{c}").cast("bigint").alias("n_nulls"),
            F.col(f"ndv_{c}").cast("bigint").alias("n_distinct"),
            F.col(f"min_{c}").alias("min_value"),
            F.col(f"max_{c}").alias("max_value"),
        )
        arms = arm if arms is None else arms.unionByName(arm)
    return arms.orderBy("column_name")


# ---------------------------------------------------------------------------
# Functional-dependency audit — schema profiling's FD discovery step
# (Papenbrock et al. VLDB'15 frame it as the core of dependency
# profiling): for each CANDIDATE determinant→dependent pair, one
# aggregation reports |distinct LHS|, |distinct (LHS,RHS)|, the count
# of violating determinant values (those mapping to >1 dependent) and
# the g3-style repair count (rows minus the per-LHS majority — here
# approximated exactly as n_pairs − n_lhs, the number of EXTRA
# mappings). The candidate list mixes true FDs (nation→region is
# genuine) with false ones so the report separates. Each candidate is
# one groupBy over a 2-column projection; counts are exact integers.
@_q(
    "fd_audit",
    """
    WITH cand AS (
      SELECT 'nation' AS tbl, 'n_nationkey' AS lhs, 'n_regionkey' AS rhs,
             n_nationkey AS l, CAST(n_regionkey AS VARCHAR) AS r FROM nation
      UNION ALL
      SELECT 'customer', 'c_nationkey', 'c_mktsegment',
             c_nationkey, c_mktsegment FROM customer
      UNION ALL
      SELECT 'orders', 'o_custkey', 'o_orderpriority',
             o_custkey, o_orderpriority FROM orders
      UNION ALL
      SELECT 'lineitem', 'l_orderkey', 'l_returnflag',
             l_orderkey, l_returnflag FROM lineitem
      UNION ALL
      SELECT 'part', 'p_brand', 'p_type',
             CAST(regexp_extract(p_brand, '([0-9]+)', 1) AS BIGINT), p_type
      FROM part
    ),
    per_lhs AS (
      SELECT tbl, lhs, rhs, l, COUNT(DISTINCT r) AS nr
      FROM cand GROUP BY tbl, lhs, rhs, l
    )
    SELECT tbl, lhs, rhs,
           COUNT(*) AS n_lhs,
           CAST(SUM(nr) AS BIGINT) AS n_pairs,
           CAST(SUM(CASE WHEN nr > 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS violating_lhs,
           CAST(SUM(nr) - COUNT(*) AS BIGINT) AS extra_mappings,
           CAST(SUM(CASE WHEN nr > 1 THEN 1 ELSE 0 END) = 0 AS BOOLEAN)
             AS fd_holds
    FROM per_lhs GROUP BY tbl, lhs, rhs ORDER BY tbl, lhs, rhs
    """,
)
def q_fd_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    def cand(tbl: str, lhs: str, rhs: str, ldf) -> DataFrame:
        return ldf.select(
            F.lit(tbl).alias("tbl"),
            F.lit(lhs).alias("lhs"),
            F.lit(rhs).alias("rhs"),
            F.col("_l").alias("l"),
            F.col("_r").alias("r"),
        )

    nation = t(spark, sf_dir, "nation")
    customer = t(spark, sf_dir, "customer")
    orders = t(spark, sf_dir, "orders")
    lineitem = t(spark, sf_dir, "lineitem")
    part = t(spark, sf_dir, "part")
    arms = [
        cand(
            "nation",
            "n_nationkey",
            "n_regionkey",
            nation.select(
                F.col("n_nationkey").cast("bigint").alias("_l"),
                F.col("n_regionkey").cast("string").alias("_r"),
            ),
        ),
        cand(
            "customer",
            "c_nationkey",
            "c_mktsegment",
            customer.select(
                F.col("c_nationkey").cast("bigint").alias("_l"),
                F.col("c_mktsegment").alias("_r"),
            ),
        ),
        cand(
            "orders",
            "o_custkey",
            "o_orderpriority",
            orders.select(
                F.col("o_custkey").cast("bigint").alias("_l"),
                F.col("o_orderpriority").alias("_r"),
            ),
        ),
        cand(
            "lineitem",
            "l_orderkey",
            "l_returnflag",
            lineitem.select(
                F.col("l_orderkey").cast("bigint").alias("_l"),
                F.col("l_returnflag").alias("_r"),
            ),
        ),
        # A REAL determinant candidate (r9 ADVICE: the old encoding —
        # constant l, brand||type as r — audited the trivial FD
        # ∅→(brand,type)): the brand NUMBER is the determinant, p_type
        # the dependent, and the FD is genuinely false (each brand
        # carries many types), so the report's separation is exercised.
        cand(
            "part",
            "p_brand",
            "p_type",
            part.select(
                F.regexp_extract("p_brand", "([0-9]+)", 1)
                .cast("bigint")
                .alias("_l"),
                F.col("p_type").alias("_r"),
            ),
        ),
    ]
    from functools import reduce

    allc = reduce(lambda x, y: x.unionByName(y), arms)
    per_lhs = allc.groupBy("tbl", "lhs", "rhs", "l").agg(
        F.countDistinct("r").alias("nr")
    )
    return (
        per_lhs.groupBy("tbl", "lhs", "rhs")
        .agg(
            F.count(F.lit(1)).alias("n_lhs"),
            F.sum("nr").cast("bigint").alias("n_pairs"),
            F.sum(F.when(F.col("nr") > 1, 1).otherwise(0))
            .cast("bigint")
            .alias("violating_lhs"),
            (F.sum("nr") - F.count(F.lit(1)))
            .cast("bigint")
            .alias("extra_mappings"),
            (
                F.sum(F.when(F.col("nr") > 1, 1).otherwise(0)) == 0
            ).alias("fd_holds"),
        )
        .orderBy("tbl", "lhs", "rhs")
    )


# ---------------------------------------------------------------------------
# Brier score with the Murphy (1973) decomposition — the calibration
# audit in its additive form: brier = reliability − resolution +
# uncertainty. Honest forecast, no leakage: per-segment conversion
# rates are ESTIMATED on even order keys and EVALUATED on odd ones
# (the hash-split convention of train_test_split_hash). Per-segment
# terms are doubles from exact integer counts round(9), summed in
# DECIMAL(38,9) (order-free); uncertainty is one exact ratio. The
# identity is exact because forecast groups are the distinct forecast
# values (pinned in tests).
@_q(
    "brier_decomposition",
    """
    WITH j AS (
      SELECT o.o_orderkey, c.c_mktsegment AS seg,
             CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                  THEN 1 ELSE 0 END AS y
      FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
    ),
    train AS (
      SELECT seg, round(CAST(SUM(y) AS DOUBLE) / COUNT(*), 6) AS f
      FROM j WHERE o_orderkey % 2 = 0 GROUP BY seg
    ),
    ev AS (
      SELECT j.seg, t.f, COUNT(*) AS n, SUM(j.y) AS pos
      FROM j JOIN train t ON t.seg = j.seg
      WHERE j.o_orderkey % 2 = 1 GROUP BY j.seg, t.f
    ),
    tot AS (SELECT SUM(n) AS nt, SUM(pos) AS post FROM ev),
    terms AS (
      SELECT n, pos, f,
             CAST(round(n * (f - CAST(pos AS DOUBLE) / n)
                          * (f - CAST(pos AS DOUBLE) / n), 9)
                  AS DECIMAL(38,9)) AS rel,
             CAST(round(n * (CAST(pos AS DOUBLE) / n
                             - CAST((SELECT post FROM tot) AS DOUBLE)
                               / (SELECT nt FROM tot))
                          * (CAST(pos AS DOUBLE) / n
                             - CAST((SELECT post FROM tot) AS DOUBLE)
                               / (SELECT nt FROM tot)), 9)
                  AS DECIMAL(38,9)) AS res,
             CAST(round(pos * (1 - f) * (1 - f)
                        + (n - pos) * f * f, 9) AS DECIMAL(38,9)) AS bs
      FROM ev
    )
    SELECT CAST((SELECT nt FROM tot) AS BIGINT) AS n_eval,
           round(CAST(SUM(bs) AS DOUBLE) / (SELECT nt FROM tot), 6)
             AS brier,
           round(CAST(SUM(rel) AS DOUBLE) / (SELECT nt FROM tot), 6)
             AS reliability,
           round(CAST(SUM(res) AS DOUBLE) / (SELECT nt FROM tot), 6)
             AS resolution,
           round(CAST((SELECT post FROM tot) AS DOUBLE)
                 / (SELECT nt FROM tot)
                 * (1 - CAST((SELECT post FROM tot) AS DOUBLE)
                        / (SELECT nt FROM tot)), 6) AS uncertainty
    FROM terms
    """,
)
def q_brier_decomposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = t(spark, sf_dir, "orders")
    c = t(spark, sf_dir, "customer")
    j = o.join(c, o["o_custkey"] == c["c_custkey"]).select(
        "o_orderkey",
        F.col("c_mktsegment").alias("seg"),
        F.when(F.col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1)
        .otherwise(0)
        .alias("y"),
    )
    train = (
        j.where(F.col("o_orderkey") % 2 == 0)
        .groupBy("seg")
        .agg(
            F.round(F.sum("y").cast("double") / F.count(F.lit(1)), 6).alias(
                "f"
            )
        )
    )
    ev = (
        j.where(F.col("o_orderkey") % 2 == 1)
        .join(F.broadcast(train), "seg")
        .groupBy("seg", "f")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("y").alias("pos"))
        .localCheckpoint(eager=True)  # read by tot + terms
    )
    trow = ev.agg(
        F.sum("n").alias("nt"), F.sum("pos").alias("post")
    ).collect()[0]
    nt, post = int(trow["nt"]), int(trow["post"])
    obar = post / nt
    ob = F.col("pos").cast("double") / F.col("n")
    terms = ev.select(
        F.round(
            F.col("n") * (F.col("f") - ob) * (F.col("f") - ob), 9
        )
        .cast("decimal(38,9)")
        .alias("rel"),
        F.round(F.col("n") * (ob - F.lit(obar)) * (ob - F.lit(obar)), 9)
        .cast("decimal(38,9)")
        .alias("res"),
        F.round(
            F.col("pos") * (1 - F.col("f")) * (1 - F.col("f"))
            + (F.col("n") - F.col("pos")) * F.col("f") * F.col("f"),
            9,
        )
        .cast("decimal(38,9)")
        .alias("bs"),
    )
    return terms.agg(
        F.lit(nt).cast("bigint").alias("n_eval"),
        F.round(F.sum("bs").cast("double") / nt, 6).alias("brier"),
        F.round(F.sum("rel").cast("double") / nt, 6).alias("reliability"),
        F.round(F.sum("res").cast("double") / nt, 6).alias("resolution"),
        F.round(F.lit(obar * (1 - obar)), 6).alias("uncertainty"),
    )


# ---------------------------------------------------------------------------
# l-diversity audit (Machanavajjhala et al. 2007) — the privacy check
# ABOVE k-anonymity that pii_pseudonymize_kanon stops at: a
# quasi-identifier group is safe only if its SENSITIVE attribute
# (account-balance band) takes ≥ l distinct values. Report: the
# distribution of groups by their diversity l — counts, rows, and the
# minimum group size at each l. One groupBy chain, exact integers.
@_q(
    "l_diversity_audit",
    """
    WITH g AS (
      SELECT c_nationkey, c_mktsegment,
             COUNT(*) AS n_rows,
             COUNT(DISTINCT CAST(floor(c_acctbal / 2000) AS BIGINT)) AS l
      FROM customer GROUP BY c_nationkey, c_mktsegment
    )
    SELECT CAST(l AS BIGINT) AS l,
           CAST(COUNT(*) AS BIGINT) AS n_groups,
           CAST(SUM(n_rows) AS BIGINT) AS n_rows,
           CAST(MIN(n_rows) AS BIGINT) AS min_group_size
    FROM g GROUP BY l ORDER BY l
    """,
)
def q_l_diversity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = t(spark, sf_dir, "customer")
    g = c.groupBy("c_nationkey", "c_mktsegment").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.countDistinct(
            F.floor(F.col("c_acctbal") / 2000).cast("bigint")
        ).alias("l"),
    )
    return (
        g.groupBy("l")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_groups"),
            F.sum("n_rows").cast("bigint").alias("n_rows"),
            F.min("n_rows").cast("bigint").alias("min_group_size"),
        )
        .select(F.col("l").cast("bigint").alias("l"), "n_groups", "n_rows", "min_group_size")
        .orderBy("l")
    )


# ---------------------------------------------------------------------------
# Simpson's-paradox audit (Simpson 1951; Bickel's Berkeley case) —
# the BI sanity check that belongs next to mix_shift_decomposition:
# does the pooled association between order status F and high
# priority hold within every market segment, or does aggregation
# reverse it? Report: pooled rate difference + per-segment rate
# differences + the reversal verdict, all from exact integer counts
# (one fact-dim join + two groupBys; divisions at report time). The
# verdict column makes the paradox machine-checkable: 'reversal' iff
# some segment's sign contradicts the pooled sign.
@_q(
    "simpsons_paradox_audit",
    """
    WITH j AS (
      SELECT c.c_mktsegment AS seg,
             CASE WHEN o.o_orderstatus = 'F' THEN 1 ELSE 0 END AS x,
             CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                  THEN 1 ELSE 0 END AS y
      FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
    ),
    seg AS (
      SELECT seg,
             SUM(CASE WHEN x = 1 THEN y ELSE 0 END) AS y1,
             SUM(x) AS n1,
             SUM(CASE WHEN x = 0 THEN y ELSE 0 END) AS y0,
             SUM(1 - x) AS n0
      FROM j GROUP BY seg
    ),
    pool AS (
      SELECT SUM(y1) AS y1, SUM(n1) AS n1, SUM(y0) AS y0, SUM(n0) AS n0
      FROM seg
    )
    SELECT s.seg AS segment,
           CAST(s.n1 AS BIGINT) AS n_exposed,
           CAST(s.n0 AS BIGINT) AS n_unexposed,
           round(CAST(s.y1 AS DOUBLE) / s.n1
                 - CAST(s.y0 AS DOUBLE) / s.n0, 6) AS seg_rate_diff,
           round(CAST(p.y1 AS DOUBLE) / p.n1
                 - CAST(p.y0 AS DOUBLE) / p.n0, 6) AS pooled_rate_diff,
           CASE WHEN (CAST(s.y1 AS DOUBLE) / s.n1
                      - CAST(s.y0 AS DOUBLE) / s.n0)
                     * (CAST(p.y1 AS DOUBLE) / p.n1
                        - CAST(p.y0 AS DOUBLE) / p.n0) < 0
                THEN 'reversal' ELSE 'consistent' END AS verdict
    FROM seg s CROSS JOIN pool p
    ORDER BY segment
    """,
)
def q_simpsons_paradox_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = t(spark, sf_dir, "orders")
    c = t(spark, sf_dir, "customer")
    j = o.join(c, o["o_custkey"] == c["c_custkey"]).select(
        F.col("c_mktsegment").alias("seg"),
        F.when(F.col("o_orderstatus") == "F", 1).otherwise(0).alias("x"),
        F.when(F.col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1)
        .otherwise(0)
        .alias("y"),
    )
    seg = j.groupBy("seg").agg(
        F.sum(F.when(F.col("x") == 1, F.col("y")).otherwise(0)).alias("y1"),
        F.sum("x").alias("n1"),
        F.sum(F.when(F.col("x") == 0, F.col("y")).otherwise(0)).alias("y0"),
        F.sum(1 - F.col("x")).alias("n0"),
    ).localCheckpoint(eager=True)  # read per-segment + pooled
    pool = seg.agg(
        F.sum("y1").alias("py1"),
        F.sum("n1").alias("pn1"),
        F.sum("y0").alias("py0"),
        F.sum("n0").alias("pn0"),
    )
    sd = F.col("y1").cast("double") / F.col("n1") - F.col("y0").cast(
        "double"
    ) / F.col("n0")
    pd_ = F.col("py1").cast("double") / F.col("pn1") - F.col("py0").cast(
        "double"
    ) / F.col("pn0")
    return (
        seg.crossJoin(F.broadcast(pool))
        .select(
            F.col("seg").alias("segment"),
            F.col("n1").cast("bigint").alias("n_exposed"),
            F.col("n0").cast("bigint").alias("n_unexposed"),
            F.round(sd, 6).alias("seg_rate_diff"),
            F.round(pd_, 6).alias("pooled_rate_diff"),
            F.when(sd * pd_ < 0, "reversal")
            .otherwise("consistent")
            .alias("verdict"),
        )
        .orderBy("segment")
    )
