"""Product-analytics depth queries: item-item co-occurrence
similarity ("bought X also bought Y"), CEP-style sequence-pattern
detection over per-user event strings, and first/last-touch
attribution for purchases.

Scale notes (100 TB):
- Item-item similarity generates pairs WITHIN an order only (bounded
  by basket size, never item x item), aggregates pair counts with
  map-side combine, and computes cosine from exact integer
  (pair, degree) counts — the classic co-occurrence recommender
  build, shuffle-bounded by Σ basket².
- Sequence patterns compress each user's history to one ordered
  event-initial string (collect → sort by (ts, event_id) → join),
  then run ONE regex per user — the Flink-CEP shape re-expressed as
  "aggregate then match", with per-user state bounded by history
  length, not pattern complexity.
- Attribution is two deterministic window joins (last click before /
  first click after assignment windows), linear per user like the
  as-of family — no pair explosion between purchases and clicks.
"""

from __future__ import annotations

import math as _math

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators.graphs import co_occurrence_pairs
from ..operators.spread import counted_checkpoint
from ._util import t, registry

QUERIES, ORACLES, _q = registry()


_COOC_MIN_PAIRS = 3


def _basket_pairs(spark: SparkSession, sf_dir: str, min_co: int):
    """Shared basket machinery for the co-occurrence family: distinct
    (order, part) baskets, per-part degrees, and within-basket pair
    counts floored at min_co. Pair volume is bounded by Σ|basket|²,
    never |items|² — the property all three consumers inherit."""
    basket = (
        t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey").distinct()
        .localCheckpoint(eager=True)  # deg, pairs (2 sides) and any
        # caller-side count all reuse the distinct baskets
    )
    deg = basket.groupBy("l_partkey").agg(F.count("*").alias("d"))
    return basket, deg, _order_pairs(basket, min_co)


def _order_pairs(basket: DataFrame, min_co: int) -> DataFrame:
    """(pa, pb, co) part pairs sharing co >= min_co orders of the
    distinct (l_orderkey, l_partkey) baskets."""
    return (
        co_occurrence_pairs(basket, "l_orderkey", "l_partkey", weighted=True)
        .select(
            F.col("u").alias("pa"), F.col("v").alias("pb"), F.col("w").alias("co")
        )
        .where(F.col("co") >= min_co)
    )



# ---------------------------------------------------------------------------
# Item-item co-occurrence cosine: sim(a,b) = co(a,b) /
# sqrt(deg(a)*deg(b)) over order baskets. Pairs are generated inside
# each basket (a < b), so pair volume is Σ|basket|², never |items|².
@_q(
    "item_cooccurrence_similarity",
    f"""
    WITH basket AS (
      SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    ), deg AS (
      SELECT l_partkey, COUNT(*) AS d FROM basket GROUP BY 1
    ), pairs AS (
      SELECT a.l_partkey AS pa, b.l_partkey AS pb, COUNT(*) AS co
      FROM basket a JOIN basket b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2
    )
    SELECT p.pa, p.pb, p.co,
           round(CAST(p.co AS DOUBLE)
                 / sqrt(CAST(da.d AS DOUBLE) * CAST(db.d AS DOUBLE)), 6)
             AS cosine
    FROM pairs p
    JOIN deg da ON da.l_partkey = p.pa
    JOIN deg db ON db.l_partkey = p.pb
    WHERE p.co >= {_COOC_MIN_PAIRS}
    """,
)
def q_item_cooccurrence_similarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    _, deg, pairs = _basket_pairs(spark, sf_dir, _COOC_MIN_PAIRS)
    da = deg.select(F.col("l_partkey").alias("pa"), F.col("d").alias("da"))
    db = deg.select(F.col("l_partkey").alias("pb"), F.col("d").alias("db"))
    return (
        pairs.join(da, "pa")
        .join(db, "pb")
        .select(
            "pa",
            "pb",
            "co",
            F.round(
                F.col("co").cast("double")
                / F.sqrt(F.col("da").cast("double") * F.col("db").cast("double")),
                6,
            ).alias("cosine"),
        )
    )


# ---------------------------------------------------------------------------
# Sequence-pattern detection: per user, the ordered initials of the
# event history form a string; the CEP pattern "signup, then 1+
# clicks with no error between, then purchase" is one regex
# (s[ckvp]*c+p with no 'e'). Reports match count and first match
# offset per matching user.
_SEQ_PATTERN = "s[^e]*c[^e]*p"


@_q(
    "sequence_pattern_match",
    f"""
    WITH seq AS (
      SELECT user_id,
             string_agg(substring(event_type, 1, 1), '' ORDER BY ts, event_id)
               AS s
      FROM events GROUP BY user_id
    )
    SELECT user_id, s AS event_string,
           CAST(length(s) AS BIGINT) AS n_events,
           CAST(length(regexp_extract(s, '^(.*?){_SEQ_PATTERN}', 1)) + 1
                AS BIGINT) AS first_match_at
    FROM seq
    WHERE regexp_matches(s, '{_SEQ_PATTERN}')
    """,
)
def q_sequence_pattern_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events")
    seq = (
        ev.select(
            "user_id",
            F.struct("ts", "event_id").alias("k"),
            F.substring("event_type", 1, 1).alias("c"),
        )
        .groupBy("user_id")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("k", "c"))),
                    lambda x: x["c"],
                ),
                "",
            ).alias("s")
        )
    )
    first_at = F.when(
        F.col("s").rlike(_SEQ_PATTERN),
        F.length(F.regexp_extract(F.col("s"), f"^(.*?){_SEQ_PATTERN}", 1)) + 1,
    ).otherwise(0)
    return (
        seq.where(F.col("s").rlike(_SEQ_PATTERN))
        .select(
            "user_id",
            F.col("s").alias("event_string"),
            F.length("s").cast("bigint").alias("n_events"),
            first_at.cast("bigint").alias("first_match_at"),
        )
    )


# ---------------------------------------------------------------------------
# First-/last-touch attribution: every purchase credits the FIRST and
# the LAST click in the preceding 7 days (same user). Window-ranked
# over the interval join candidates — the candidate set per purchase
# is bounded by the 7-day window, the as-of family's scale contract.
@_q(
    "purchase_attribution",
    """
    WITH clicks AS (
      SELECT user_id, event_id AS click_id, ts AS c_ts FROM events
      WHERE event_type = 'click'
    ), purchases AS (
      SELECT user_id, event_id AS purchase_id, ts AS p_ts FROM events
      WHERE event_type = 'purchase'
    ), cand AS (
      SELECT p.purchase_id, p.user_id, c.click_id, c.c_ts
      FROM purchases p JOIN clicks c
        ON c.user_id = p.user_id
       AND c.c_ts < p.p_ts AND c.c_ts >= p.p_ts - INTERVAL 7 DAY
    ), r AS (
      -- composite (c_ts, click_id) order keeps duplicate-timestamp
      -- ties deterministic; DuckDB arg_min takes scalar keys only
      SELECT *,
        row_number() OVER (PARTITION BY purchase_id
                           ORDER BY c_ts, click_id) AS rn_a,
        row_number() OVER (PARTITION BY purchase_id
                           ORDER BY c_ts DESC, click_id DESC) AS rn_d
      FROM cand
    )
    SELECT purchase_id, user_id,
           CAST(max(CASE WHEN rn_a = 1 THEN click_id END) AS BIGINT)
             AS first_touch,
           CAST(max(CASE WHEN rn_d = 1 THEN click_id END) AS BIGINT)
             AS last_touch,
           CAST(COUNT(*) AS BIGINT) AS n_touches
    FROM r GROUP BY purchase_id, user_id
    """,
)
def q_purchase_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events")
    clicks = ev.where(F.col("event_type") == "click").select(
        F.col("user_id").alias("cu"),
        F.col("event_id").alias("click_id"),
        F.col("ts").alias("c_ts"),
    )
    purchases = ev.where(F.col("event_type") == "purchase").select(
        "user_id",
        F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("p_ts"),
    )
    cand = purchases.join(
        clicks,
        (F.col("cu") == F.col("user_id"))
        & (F.col("c_ts") < F.col("p_ts"))
        & (F.col("c_ts") >= F.col("p_ts") - F.expr("INTERVAL 7 DAYS")),
    )
    key = F.struct(F.col("c_ts"), F.col("click_id"))
    return cand.groupBy("purchase_id", "user_id").agg(
        F.min_by("click_id", key).cast("bigint").alias("first_touch"),
        F.max_by("click_id", key).cast("bigint").alias("last_touch"),
        F.count("*").alias("n_touches"),
    )


# ---------------------------------------------------------------------------
# Top user-journey trigrams: per user the (ts, event_id)-ordered event
# stream yields sliding event-type 3-grams via window leads (no
# collect, no self-join); global top-20 with a total order
# (count DESC, path ASC) so the cut is deterministic.
@_q(
    "top_journey_trigrams",
    """
    WITH seq AS (
      SELECT user_id, event_type AS e,
             lead(event_type, 1) OVER w AS e1,
             lead(event_type, 2) OVER w AS e2
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    )
    SELECT e || '>' || e1 || '>' || e2 AS path, COUNT(*) AS n
    FROM seq WHERE e2 IS NOT NULL
    GROUP BY 1 ORDER BY n DESC, path LIMIT 20
    """,
)
def q_top_journey_trigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        F.col("event_type").alias("e"),
        F.lead("event_type", 1).over(w).alias("e1"),
        F.lead("event_type", 2).over(w).alias("e2"),
    )
    return (
        seq.where(F.col("e2").isNotNull())
        .select(
            F.concat_ws(">", "e", "e1", "e2").alias("path")
        )
        .groupBy("path")
        .agg(F.count("*").alias("n"))
        .orderBy(F.desc("n"), F.asc("path"))
        .limit(20)
    )


# ---------------------------------------------------------------------------
# Markov next-event accuracy: the transition matrix learned on train
# users (argmax next state per prior, ties to the lexicographically
# smallest) is evaluated on held-out users' transitions — the
# backtest shape that turns a descriptive transition matrix into a
# scored predictor.
_MARKOV_HOLDOUT_MOD = 5


@_q(
    "markov_next_event_accuracy",
    f"""
    WITH seq AS (
      SELECT user_id, event_type AS a,
             lead(event_type) OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id) AS b
      FROM events
    ), trans AS (
      SELECT * FROM seq WHERE b IS NOT NULL
    ), train AS (
      SELECT a, b, COUNT(*) AS c FROM trans
      WHERE user_id % {_MARKOV_HOLDOUT_MOD} <> 0 GROUP BY 1, 2
    ), pred AS (
      SELECT a, b AS predicted FROM (
        SELECT a, b, row_number() OVER (PARTITION BY a
                     ORDER BY c DESC, b) AS rn
        FROM train
      ) WHERE rn = 1
    )
    SELECT t.a,
           CAST(COUNT(*) AS BIGINT) AS n_test,
           CAST(COUNT(*) FILTER (t.b = p.predicted) AS BIGINT) AS n_correct,
           round(CAST(COUNT(*) FILTER (t.b = p.predicted) AS DOUBLE)
                 / COUNT(*), 6) AS accuracy
    FROM trans t JOIN pred p ON p.a = t.a
    WHERE t.user_id % {_MARKOV_HOLDOUT_MOD} = 0
    GROUP BY t.a
    """,
)
def q_markov_next_event_accuracy(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "user_id",
        F.col("event_type").alias("a"),
        F.lead("event_type").over(w).alias("b"),
    ).where(F.col("b").isNotNull())
    train = (
        seq.where(F.col("user_id") % _MARKOV_HOLDOUT_MOD != 0)
        .groupBy("a", "b")
        .agg(F.count("*").alias("c"))
    )
    pred = (
        train.withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("a").orderBy(F.desc("c"), F.asc("b"))
            ),
        )
        .where(F.col("rn") == 1)
        .select("a", F.col("b").alias("predicted"))
    )
    test = seq.where(F.col("user_id") % _MARKOV_HOLDOUT_MOD == 0)
    return (
        test.join(F.broadcast(pred), "a")
        .groupBy("a")
        .agg(
            F.count("*").alias("n_test"),
            F.sum(
                F.when(F.col("b") == F.col("predicted"), 1).otherwise(0)
            ).alias("n_correct"),
            F.round(
                F.sum(
                    F.when(F.col("b") == F.col("predicted"), 1).otherwise(0)
                ).cast("double")
                / F.count("*"),
                6,
            ).alias("accuracy"),
        )
    )


# ---------------------------------------------------------------------------
# Item-item collaborative-filtering recommendations: score(c, j) =
# sum of cosine similarities between candidate j and the items c
# already bought, excluding owned items; top-3 per customer. The sim
# table is the co-occurrence head (co >= 2) — MBs at any corpus size,
# so it BROADCASTS and the customer-item table never shuffles for the
# scoring join. Determinism: each cosine is rounded to 6 dp and cast
# to DECIMAL(18,6) before the per-(c,j) SUM, putting the score on the
# exact lattice — the sum is order-independent under any partitioning
# (the repo's decimal-lattice idiom applied to float similarities).
_REC_MIN_CO = 2
_REC_TOP = 3


@_q(
    "item_recommendations",
    f"""
    WITH basket AS (
      SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    ), deg AS (
      SELECT l_partkey, COUNT(*) AS d FROM basket GROUP BY 1
    ), pairs AS (
      SELECT a.l_partkey AS pa, b.l_partkey AS pb, COUNT(*) AS co
      FROM basket a JOIN basket b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2
    ), sims AS MATERIALIZED (
      SELECT pa, pb,
             CAST(round(CAST(co AS DOUBLE)
                  / sqrt(CAST(da.d AS DOUBLE) * CAST(db.d AS DOUBLE)), 6)
                  AS DECIMAL(18,6)) AS sim
      FROM pairs JOIN deg da ON da.l_partkey = pairs.pa
                 JOIN deg db ON db.l_partkey = pairs.pb
      WHERE co >= {_REC_MIN_CO}
    ), sim2 AS (
      SELECT pa AS i, pb AS j, sim FROM sims
      UNION ALL SELECT pb AS i, pa AS j, sim FROM sims
    ), citems AS MATERIALIZED (
      SELECT DISTINCT o.o_custkey AS c, l.l_partkey AS i
      FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    ), scored AS (
      SELECT ci.c, s.j, SUM(s.sim) AS score, COUNT(*) AS n_contributing
      FROM citems ci JOIN sim2 s ON s.i = ci.i
      WHERE NOT EXISTS (SELECT 1 FROM citems o
                        WHERE o.c = ci.c AND o.i = s.j)
      GROUP BY ci.c, s.j
    ), ranked AS (
      SELECT c, j, score, n_contributing,
             row_number() OVER (PARTITION BY c
                                ORDER BY score DESC, j) AS rn
      FROM scored
    )
    SELECT c AS custkey, j AS rec_partkey,
           CAST(score AS DOUBLE) AS score,
           CAST(n_contributing AS BIGINT) AS n_contributing
    FROM ranked WHERE rn <= {_REC_TOP}
    """,
)
def q_item_recommendations(spark: SparkSession, sf_dir: str) -> DataFrame:
    _, deg, pairs = _basket_pairs(spark, sf_dir, _REC_MIN_CO)
    da = deg.select(F.col("l_partkey").alias("pa"), F.col("d").alias("da"))
    db = deg.select(F.col("l_partkey").alias("pb"), F.col("d").alias("db"))
    sims = pairs.join(da, "pa").join(db, "pb").select(
        "pa",
        "pb",
        F.round(
            F.col("co").cast("double")
            / F.sqrt(F.col("da").cast("double") * F.col("db").cast("double")),
            6,
        )
        .cast("decimal(18,6)")
        .alias("sim"),
    )
    # the sim table is a reusable model artifact: materialize it once
    # (localCheckpoint) so the union's two directions don't re-derive
    # the basket-pair pipeline — halves the Exchange count
    sims = sims.localCheckpoint(eager=True)
    sim2 = sims.select(
        F.col("pa").alias("i"), F.col("pb").alias("j"), "sim"
    ).unionByName(sims.select(F.col("pb").alias("i"), F.col("pa").alias("j"), "sim"))
    orders = t(spark, sf_dir, "orders").select("o_custkey", "o_orderkey")
    li = t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    citems = (
        orders.join(li, orders.o_orderkey == li.l_orderkey)
        .select(F.col("o_custkey").alias("c"), F.col("l_partkey").alias("i"))
        .distinct()
        .localCheckpoint(eager=True)  # used by both scoring and owned-filter
    )
    owned = citems.select(F.col("c").alias("oc"), F.col("i").alias("oj"))
    cand = citems.join(F.broadcast(sim2), "i")
    scored = (
        cand.join(
            owned,
            (cand["c"] == owned["oc"]) & (cand["j"] == owned["oj"]),
            "left_anti",
        )
        .groupBy("c", "j")
        .agg(
            F.sum("sim").alias("score"),
            F.count(F.lit(1)).alias("n_contributing"),
        )
    )
    rn = F.row_number().over(
        Window.partitionBy("c").orderBy(F.desc("score"), F.asc("j"))
    )
    return (
        scored.withColumn("rn", rn)
        .where(F.col("rn") <= _REC_TOP)
        .select(
            F.col("c").alias("custkey"),
            F.col("j").alias("rec_partkey"),
            F.col("score").cast("double").alias("score"),
            F.col("n_contributing").cast("bigint").alias("n_contributing"),
        )
    )


# ---------------------------------------------------------------------------
# RFM segmentation — the standard customer-value scoring: recency
# (days since last order, lower is better), frequency (order count),
# monetary (decimal-exact spend), each scored 1-5 by ntile over a
# FULLY tie-broken order (metric, custkey) so bucket assignment is
# deterministic cross-engine. One aggregation over orders; the three
# quintile scores are then computed WITHOUT global ntile windows over
# the customer-grain table (round-6 verdict item 3): each metric's 4
# bucket boundaries come from exact distributed selection
# (operators/quantiles.py) and rows are scored by broadcast literal
# cut-tuple comparisons — bit-identical to the oracle's tiebroken
# ntile, but nothing single-partition at 100M customers.
@_q(
    "rfm_segmentation",
    """
    WITH agg AS (
      SELECT o_custkey AS custkey,
             date_diff('day', max(o_orderdate), TIMESTAMP '2001-09-01')
               AS recency_days,
             COUNT(*) AS frequency,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
               AS monetary
      FROM orders GROUP BY o_custkey
    ), scored AS (
      SELECT *,
             ntile(5) OVER (ORDER BY recency_days DESC, custkey) AS r_score,
             ntile(5) OVER (ORDER BY frequency, custkey) AS f_score,
             ntile(5) OVER (ORDER BY monetary, custkey) AS m_score
      FROM agg
    )
    SELECT custkey, CAST(recency_days AS BIGINT) AS recency_days,
           CAST(frequency AS BIGINT) AS frequency, monetary,
           CAST(r_score AS BIGINT) AS r_score,
           CAST(f_score AS BIGINT) AS f_score,
           CAST(m_score AS BIGINT) AS m_score,
           CAST(r_score AS VARCHAR) || CAST(f_score AS VARCHAR)
             || CAST(m_score AS VARCHAR) AS segment
    FROM scored
    """,
)
def q_rfm_segmentation(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.quantiles import ntile_bin_column

    orders = t(spark, sf_dir, "orders")
    agg = orders.groupBy(F.col("o_custkey").alias("custkey")).agg(
        F.datediff(
            F.lit("2001-09-01").cast("date"), F.max("o_orderdate").cast("date")
        ).alias("recency_days"),
        F.count(F.lit(1)).alias("frequency"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
        .cast("double")
        .alias("monetary"),
    ).localCheckpoint()  # 3 selection passes + the final scan read this once
    r = ntile_bin_column(
        agg, ["recency_days", "custkey"], 5, ascending=[False, True]
    )
    f_ = ntile_bin_column(agg, ["frequency", "custkey"], 5)
    m = ntile_bin_column(agg, ["monetary", "custkey"], 5)
    scored = agg.select(
        "custkey",
        F.col("recency_days").cast("bigint").alias("recency_days"),
        F.col("frequency").cast("bigint").alias("frequency"),
        "monetary",
        r.cast("bigint").alias("r_score"),
        f_.cast("bigint").alias("f_score"),
        m.cast("bigint").alias("m_score"),
    )
    return scored.withColumn(
        "segment",
        F.concat(
            F.col("r_score").cast("string"),
            F.col("f_score").cast("string"),
            F.col("m_score").cast("string"),
        ),
    )


# ---------------------------------------------------------------------------
# Markov removal-effect attribution — the data-driven alternative to
# first/last-touch: build the journey transition matrix (start →
# events → purchase/null), compute conversion probability from
# 'start' by K rounds of matrix-vector iteration, then re-compute
# with each channel REMOVED (its inbound transitions redirected to
# null); removal_effect = 1 − p_removed/p_full is the channel's
# credit. The corpus-scale work is ONE pass building transition
# counts; every iteration runs on the ≤7-state matrix. Determinism:
# probabilities and iterates live on the DECIMAL(18,12) lattice
# (round after each division/round), so the tiny per-round sums are
# exact in any order.
_MRA_ROUNDS = 8
_MRA_CHANNELS = ("click", "view", "signup")


def _sql_markov_removal() -> str:
    variants = [("full", None)] + [(c, c) for c in _MRA_CHANNELS]
    ctes = [
        """j AS MATERIALIZED (
      SELECT user_id, ts, event_id, event_type,
             min(CASE WHEN event_type = 'purchase' THEN ts END)
               OVER (PARTITION BY user_id) AS conv_ts
      FROM events
    ), pre AS MATERIALIZED (
      SELECT user_id, ts, event_id, event_type FROM j
      WHERE conv_ts IS NULL OR ts <= conv_ts
    ), steps AS MATERIALIZED (
      SELECT user_id, event_type AS s,
             COALESCE(lead(event_type) OVER (PARTITION BY user_id
                                             ORDER BY ts, event_id),
                      'null') AS t
      FROM pre
      UNION ALL
      -- DuckDB min_by takes scalar keys only: rank the first event
      -- with the composite (ts, event_id) window instead
      SELECT user_id, 'start', event_type FROM (
        SELECT user_id, event_type,
               row_number() OVER (PARTITION BY user_id
                                  ORDER BY ts, event_id) AS rn
        FROM pre
      ) WHERE rn = 1
    )"""
    ]
    sel = []
    for tag, removed in variants:
        redirect = (
            f"CASE WHEN t = '{removed}' THEN 'null' ELSE t END"
            if removed
            else "t"
        )
        src_filter = f"WHERE s <> '{removed}'" if removed else ""
        ctes.append(
            f"""tr_{tag} AS MATERIALIZED (
      SELECT s, {redirect} AS t,
             CAST(round(COUNT(*) / CAST(SUM(COUNT(*)) OVER (PARTITION BY s)
                                        AS DOUBLE), 12)
                  AS DECIMAL(18,12)) AS p
      FROM steps {src_filter}
      GROUP BY s, {redirect}
    ),
    p_{tag}_0 AS (SELECT 'purchase' AS state, CAST(1 AS DECIMAL(18,12)) AS p)"""
        )
        for k in range(_MRA_ROUNDS):
            ctes.append(
                f"""p_{tag}_{k + 1} AS MATERIALIZED (
      SELECT tr.s AS state,
             CAST(round(CASE WHEN tr.s = 'purchase' THEN 1.0
                  ELSE SUM(tr.p * COALESCE(pv.p, 0)) END, 12)
                  AS DECIMAL(18,12)) AS p
      FROM tr_{tag} tr LEFT JOIN p_{tag}_{k} pv ON pv.state = tr.t
      GROUP BY tr.s
    )"""
            )
        sel.append(
            f"SELECT '{tag}' AS variant, CAST(p AS DOUBLE) AS p_convert"
            f" FROM p_{tag}_{_MRA_ROUNDS} WHERE state = 'start'"
        )
    union = "\n      UNION ALL ".join(sel)
    chans = ", ".join(f"'{c}'" for c in _MRA_CHANNELS)
    return (
        "WITH "
        + ",\n    ".join(ctes)
        + f""",
    res AS ({union}),
    full_p AS (SELECT p_convert AS pf FROM res WHERE variant = 'full')
    SELECT variant AS channel, round(pf, 6) AS p_full,
           round(p_convert, 6) AS p_removed,
           round(1.0 - p_convert / pf, 6) AS removal_effect
    FROM res CROSS JOIN full_p
    WHERE variant IN ({chans})
    ORDER BY channel
    """
    )


@_q("markov_removal_attribution", _sql_markov_removal())
def q_markov_removal_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events")
    wconv = Window.partitionBy("user_id")
    j = ev.withColumn(
        "conv_ts",
        F.min(
            F.when(F.col("event_type") == "purchase", F.col("ts"))
        ).over(wconv),
    )
    pre = j.where(
        F.col("conv_ts").isNull() | (F.col("ts") <= F.col("conv_ts"))
    ).select("user_id", "ts", "event_id", "event_type")
    wseq = Window.partitionBy("user_id").orderBy("ts", "event_id")
    chain = pre.select(
        F.col("event_type").alias("s"),
        F.coalesce(F.lead("event_type").over(wseq), F.lit("null")).alias("t"),
    )
    starts = pre.groupBy("user_id").agg(
        F.min_by("event_type", F.struct("ts", "event_id")).alias("t")
    ).select(F.lit("start").alias("s"), "t")
    steps = chain.unionByName(starts).localCheckpoint(eager=True)

    out = None
    for tag, removed in [("full", None)] + [(c, c) for c in _MRA_CHANNELS]:
        st = steps
        if removed:
            st = steps.where(F.col("s") != removed).withColumn(
                "t",
                F.when(F.col("t") == removed, "null").otherwise(F.col("t")),
            )
        counts = st.groupBy("s", "t").agg(F.count(F.lit(1)).alias("c"))
        tot = Window.partitionBy("s")
        tr = counts.select(
            "s",
            "t",
            F.round(
                F.col("c") / F.sum("c").over(tot).cast("double"), 12
            )
            .cast("decimal(18,12)")
            .alias("p"),
        ).localCheckpoint(eager=True)
        pdf = tr.sparkSession.createDataFrame(
            [("purchase", 1.0)], "pstate string, pv double"
        ).select("pstate", F.col("pv").cast("decimal(18,12)").alias("pv"))
        for _ in range(_MRA_ROUNDS):
            pdf = (
                tr.join(pdf, tr["t"] == pdf["pstate"], "left")
                .groupBy(F.col("s").alias("pstate"))
                .agg(
                    F.round(
                        # refer to the grouping key via s — "pstate"
                        # would resolve to the joined iterate's column
                        F.when(F.first("s") == "purchase", F.lit(1.0))
                        .otherwise(
                            F.sum(
                                F.col("p")
                                * F.coalesce(F.col("pv"), F.lit(0).cast("decimal(18,12)"))
                            )
                        ),
                        12,
                    )
                    .cast("decimal(18,12)")
                    .alias("pv")
                )
            )
        row = pdf.where(F.col("pstate") == "start").select(
            F.lit(tag).alias("variant"),
            F.col("pv").cast("double").alias("p_convert"),
        )
        out = row if out is None else out.unionByName(row)
    full_p = out.where(F.col("variant") == "full").select(
        F.col("p_convert").alias("pf")
    )
    return (
        out.where(F.col("variant").isin(*_MRA_CHANNELS))
        .crossJoin(F.broadcast(full_p))
        .select(
            F.col("variant").alias("channel"),
            F.round("pf", 6).alias("p_full"),
            F.round("p_convert", 6).alias("p_removed"),
            F.round(1.0 - F.col("p_convert") / F.col("pf"), 6).alias(
                "removal_effect"
            ),
        )
        .orderBy("channel")
    )


# ---------------------------------------------------------------------------
# Co-occurrence lift + chi-square significance: the statistical
# upgrade of item_cooccurrence_similarity — lift = P(a,b)/(P(a)P(b))
# says HOW MUCH more often the pair co-occurs than independence
# predicts, and the 2x2 chi-square says whether that's noise. All
# four contingency cells come from exact integer counts already
# computed for the cosine; the statistics are per-row float
# expressions. Same Σ|basket|² shuffle bound.
_LIFT_MIN_CO = 3


@_q(
    "cooccurrence_lift_significance",
    f"""
    WITH basket AS (
      SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    ), nb AS (SELECT COUNT(DISTINCT l_orderkey) AS n FROM basket),
    deg AS (
      SELECT l_partkey, COUNT(*) AS d FROM basket GROUP BY 1
    ), pairs AS (
      SELECT a.l_partkey AS pa, b.l_partkey AS pb, COUNT(*) AS co
      FROM basket a JOIN basket b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2
    )
    SELECT p.pa, p.pb, CAST(p.co AS BIGINT) AS co,
           round(CAST(p.co AS DOUBLE) * nb.n
                 / (CAST(da.d AS DOUBLE) * db.d), 6) AS lift,
           round(CAST(nb.n AS DOUBLE)
                 * pow(CAST(p.co AS DOUBLE) * nb.n
                       - CAST(da.d AS DOUBLE) * db.d, 2)
                 / (CAST(da.d AS DOUBLE) * db.d
                    * (nb.n - da.d) * (nb.n - db.d)), 6) AS chi2
    FROM pairs p
    JOIN deg da ON da.l_partkey = p.pa
    JOIN deg db ON db.l_partkey = p.pb
    CROSS JOIN nb
    WHERE p.co >= {_LIFT_MIN_CO}
    """,
)
def q_cooccurrence_lift_significance(spark: SparkSession, sf_dir: str) -> DataFrame:
    basket, deg, pairs = _basket_pairs(spark, sf_dir, _LIFT_MIN_CO)
    nb = basket.agg(F.countDistinct("l_orderkey").alias("n"))
    da = deg.select(F.col("l_partkey").alias("pa"), F.col("d").alias("da"))
    db = deg.select(F.col("l_partkey").alias("pb"), F.col("d").alias("db"))
    j = (
        pairs.join(F.broadcast(da), "pa")
        .join(F.broadcast(db), "pb")
        .crossJoin(F.broadcast(nb))
    )
    nf = F.col("n").cast("double")
    dad = F.col("da").cast("double")
    dbd = F.col("db").cast("double")
    cof = F.col("co").cast("double")
    lift = cof * F.col("n") / (dad * dbd)
    chi2 = (
        nf
        * F.pow(cof * F.col("n") - dad * dbd, 2)
        / (dad * dbd * (F.col("n") - F.col("da")) * (F.col("n") - F.col("db")))
    )
    return j.select(
        "pa",
        "pb",
        F.col("co").cast("bigint").alias("co"),
        F.round(lift, 6).alias("lift"),
        F.round(chi2, 6).alias("chi2"),
    )


# ---------------------------------------------------------------------------
# Cold-start fallback recommendations: recency-weighted item
# popularity (half-life decay over order months) for customers with
# no co-occurrence signal — the fallback arm every CF recommender
# ships behind item_recommendations. The decay weight is
# 2^(-age_months/half_life) with INTEGER month ages, evaluated as a
# per-row expression and summed as DECIMAL(18,6) casts of 6-dp
# rounded weights — the similarity-lattice idiom, so popularity is
# order-independent. Top-10 global items with deterministic ties.
_POP_HALF_LIFE_MONTHS = 12
_POP_TOP = 10


@_q(
    "coldstart_popularity_recs",
    f"""
    WITH mx AS (
      SELECT max(CAST(year(o_orderdate) AS BIGINT) * 12
                 + month(o_orderdate)) AS m FROM orders
    ), scored AS (
      SELECT l.l_partkey,
             CAST(round(pow(2.0, -CAST(mx.m - (CAST(year(o.o_orderdate) AS BIGINT) * 12
                                              + month(o.o_orderdate)) AS DOUBLE)
                                 / {_POP_HALF_LIFE_MONTHS}), 6)
                  AS DECIMAL(18,6)) AS w
      FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
      CROSS JOIN mx
    )
    SELECT l_partkey, CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(w) AS DOUBLE) AS popularity
    FROM scored GROUP BY l_partkey
    ORDER BY popularity DESC, l_partkey LIMIT {_POP_TOP}
    """,
)
def q_coldstart_popularity_recs(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    orders = t(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    mx = orders.agg(
        F.max(
            F.year("o_orderdate").cast("bigint") * 12 + F.month("o_orderdate")
        ).alias("m")
    )
    j = li.join(orders, li.l_orderkey == orders.o_orderkey).crossJoin(
        F.broadcast(mx)
    )
    age = (
        F.col("m")
        - (F.year("o_orderdate").cast("bigint") * 12 + F.month("o_orderdate"))
    ).cast("double")
    w = F.round(F.pow(F.lit(2.0), -age / _POP_HALF_LIFE_MONTHS), 6).cast(
        "decimal(18,6)"
    )
    return (
        j.select("l_partkey", w.alias("w"))
        .groupBy("l_partkey")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum("w").cast("double").alias("popularity"),
        )
        .select(
            "l_partkey",
            F.col("n_orders").cast("bigint").alias("n_orders"),
            "popularity",
        )
        .orderBy(F.desc("popularity"), F.asc("l_partkey"))
        .limit(_POP_TOP)
    )


# ---------------------------------------------------------------------------
# Hour-of-week activity heatmap: event counts + decimal-exact value
# sums per (ISO day-of-week, hour) cell — the 7×24 operational
# heatmap. One aggregation; the dow/hour extraction uses isodow/
# hour() with identical Monday=1 semantics in both engines.
@_q(
    "hour_of_week_heatmap",
    """
    SELECT CAST(isodow(ts) AS BIGINT) AS dow,
           CAST(hour(ts) AS BIGINT) AS hour_of_day,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
    FROM events
    GROUP BY 1, 2 ORDER BY dow, hour_of_day
    """,
)
def q_hour_of_week_heatmap(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.dayofweek("ts").alias("_dow_sun1"),
            F.hour("ts").alias("hour_of_day"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,2)"))
            .cast("double")
            .alias("total_value"),
        )
        .select(
            # Spark dayofweek is Sunday=1; convert to ISO Monday=1
            F.when(F.col("_dow_sun1") == 1, 7)
            .otherwise(F.col("_dow_sun1") - 1)
            .cast("bigint")
            .alias("dow"),
            F.col("hour_of_day").cast("bigint").alias("hour_of_day"),
            "n_events",
            "total_value",
        )
        .orderBy("dow", "hour_of_day")
    )


# ---------------------------------------------------------------------------
# Multi-touch conversion attribution — linear and U-shaped (40/20/40)
# credit models over each user's pre-conversion journey (all
# non-purchase events strictly before the FIRST purchase), credited
# to the touch's event_type. The marketing-analytics counterpart of
# the existing last-touch purchase_attribution. EXACT-LATTICE credit:
# fractional credits are integer PICOUNITS — linear 1e12/n (floor),
# U-shaped 4e11 first + 4e11 last + 2e11/(n-2) middles — so the
# cross-user sums are order-free exact BIGINTs and only the reporting
# division is float. Floor-division remainders stay in the picounit
# totals (documented: per-conversion credit sums to 1e12 - (n-1 ..0)
# dust, identically in both engines). One window pass to rank
# touches, one groupBy to credit.
@_q(
    "multitouch_attribution",
    """
    WITH firstp AS (
      SELECT user_id, MIN(ts) AS conv_ts
      FROM events WHERE event_type = 'purchase' GROUP BY user_id
    ),
    touches AS (
      SELECT e.user_id, e.event_type, e.ts, e.event_id,
             row_number() OVER (PARTITION BY e.user_id
                                ORDER BY e.ts, e.event_id) AS pos,
             COUNT(*) OVER (PARTITION BY e.user_id) AS n
      FROM events e JOIN firstp f ON f.user_id = e.user_id
      WHERE e.event_type <> 'purchase' AND e.ts < f.conv_ts
    ),
    credited AS (
      SELECT event_type,
             CAST(1000000000000 AS BIGINT) // n AS lin_pico,
             CASE WHEN n = 1 THEN CAST(1000000000000 AS BIGINT)
                  WHEN pos = 1 OR pos = n THEN CAST(400000000000 AS BIGINT)
                  ELSE CAST(200000000000 AS BIGINT) // (n - 2) END AS u_pico
      FROM touches
    )
    SELECT event_type,
           COUNT(*) AS n_touches,
           round(CAST(SUM(lin_pico) AS DOUBLE) / 1000000000000.0, 6)
             AS linear_credit,
           round(CAST(SUM(u_pico) AS DOUBLE) / 1000000000000.0, 6)
             AS u_shaped_credit
    FROM credited GROUP BY event_type ORDER BY event_type
    """,
)
def q_multitouch_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events")
    firstp = (
        ev.where(F.col("event_type") == "purchase")
        .groupBy(F.col("user_id").alias("fu"))
        .agg(F.min("ts").alias("conv_ts"))
    )
    touches = (
        ev.where(F.col("event_type") != "purchase")
        .join(
            firstp,
            (F.col("user_id") == F.col("fu"))
            & (F.col("ts") < F.col("conv_ts")),
        )
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    wc = Window.partitionBy("user_id")
    ranked = touches.select(
        "event_type",
        F.row_number().over(w).alias("pos"),
        F.count(F.lit(1)).over(wc).alias("n"),
    )
    pico = 1000000000000
    lin = F.expr(f"CAST({pico} AS BIGINT) div n")
    u = (
        F.when(F.col("n") == 1, F.lit(pico).cast("bigint"))
        .when(
            (F.col("pos") == 1) | (F.col("pos") == F.col("n")),
            F.lit(4 * pico // 10).cast("bigint"),
        )
        .otherwise(F.expr(f"CAST({2 * pico // 10} AS BIGINT) div (n - 2)"))
    )
    return (
        ranked.select("event_type", lin.alias("lin_pico"), u.alias("u_pico"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_touches"),
            F.round(
                F.sum("lin_pico").cast("double") / pico, 6
            ).alias("linear_credit"),
            F.round(
                F.sum("u_pico").cast("double") / pico, 6
            ).alias("u_shaped_credit"),
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# EXACT Shapley-value attribution (Shapley 1953; Zhao et al. 2018's
# coalition-reach model) — the third attribution model next to the
# heuristic multitouch splits and the Markov removal effect. The
# characteristic function v(S) = number of conversions whose
# pre-conversion channel set is CONTAINED in coalition S; the Shapley
# value of channel i is then computed exactly — no permutation
# sampling — because the channel universe is bounded (n non-purchase
# event types ⇒ 2^n coalitions, n ≤ 16 enforced): one corpus pass
# reduces journeys to per-mask conversion counts, and the coalition
# algebra runs on that ≤2^n-row table. Integer-exact: weights
# |S|!(n-1-|S|)! and the n! divisor are DERIVED from the counted
# channel set via factorial() on both engines (no hardcoded n), so
# phi_num = n!·φ is an exact BIGINT and the single division to φ
# happens at report time. Conversions with
# an EMPTY pre-purchase journey sit in v(∅) and are deliberately
# unattributed (Σφ = v(full) − v(∅)).
@_q(
    "shapley_attribution",
    """
    WITH firstp AS MATERIALIZED (
      SELECT user_id, MIN(ts) AS conv_ts
      FROM events WHERE event_type = 'purchase' GROUP BY user_id
    ),
    chan AS MATERIALIZED (
      SELECT ch, row_number() OVER (ORDER BY ch) - 1 AS bit
      FROM (SELECT DISTINCT event_type AS ch FROM events
            WHERE event_type <> 'purchase')
    ),
    touch AS (
      SELECT DISTINCT f.user_id, c.bit
      FROM events e
      JOIN firstp f ON f.user_id = e.user_id AND e.ts < f.conv_ts
      JOIN chan c ON c.ch = e.event_type
    ),
    umask AS (
      SELECT f.user_id,
             COALESCE(SUM(CAST(1 AS BIGINT) << t.bit), 0) AS m
      FROM firstp f LEFT JOIN touch t ON t.user_id = f.user_id
      GROUP BY f.user_id
    ),
    mc AS MATERIALIZED (SELECT m, COUNT(*) AS conv FROM umask GROUP BY m),
    subsets AS (
      SELECT s.i AS S
      FROM unnest(generate_series(0,
             (SELECT CAST(1 AS BIGINT) << COUNT(*) FROM chan) - 1)) AS s(i)
    ),
    v AS MATERIALIZED (
      SELECT s.S, COALESCE(SUM(mc.conv), 0) AS v
      FROM subsets s LEFT JOIN mc ON (mc.m & s.S) = mc.m
      GROUP BY s.S
    )
    SELECT c.ch AS channel,
           CAST(SUM(CAST(factorial(CAST(bit_count(vx.S) AS INTEGER)) AS BIGINT)
                    * CAST(factorial(CAST((SELECT COUNT(*) FROM chan) - 1
                                     - bit_count(vx.S) AS INTEGER)) AS BIGINT)
                    * (vy.v - vx.v)) AS BIGINT) AS phi_num,
           CAST(SUM(CAST(factorial(CAST(bit_count(vx.S) AS INTEGER)) AS BIGINT)
                    * CAST(factorial(CAST((SELECT COUNT(*) FROM chan) - 1
                                     - bit_count(vx.S) AS INTEGER)) AS BIGINT)
                    * (vy.v - vx.v)) AS DOUBLE)
             / CAST(factorial(CAST((SELECT COUNT(*) FROM chan) AS INTEGER))
                    AS DOUBLE)
             AS shapley_conversions
    FROM chan c
    JOIN v vx ON (vx.S & (CAST(1 AS BIGINT) << c.bit)) = 0
    JOIN v vy ON vy.S = (vx.S | (CAST(1 AS BIGINT) << c.bit))
    GROUP BY c.ch ORDER BY channel
    """,
)
def q_shapley_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events")
    firstp = (
        ev.where(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(F.min("ts").alias("conv_ts"))
        .localCheckpoint(eager=True)  # read by touch + umask base
    )
    # nch: the channel-universe size
    chan, nch = counted_checkpoint(
        ev.where(F.col("event_type") != "purchase")
        .select(F.col("event_type").alias("ch"))
        .distinct()
        .select(
            "ch",
            (
                F.row_number().over(Window.orderBy("ch")) - 1
            ).alias("bit"),  # bounded frame: |channels| rows
        )
    )
    evt = ev.select(
        F.col("user_id").alias("t_uid"), "event_type", F.col("ts").alias("t_ts")
    )
    touch = (
        evt.join(
            firstp,
            (F.col("t_uid") == F.col("user_id"))
            & (F.col("t_ts") < F.col("conv_ts")),
        )
        .select("user_id", "event_type")
        .join(F.broadcast(chan), F.col("event_type") == F.col("ch"))
        .select("user_id", "bit")
        .distinct()
    )
    umask = (
        firstp.join(touch, "user_id", "left")
        .groupBy("user_id")
        .agg(
            F.coalesce(
                F.sum(F.expr("shiftleft(CAST(1 AS BIGINT), CAST(bit AS INT))")),
                F.lit(0),
            ).alias("m")
        )
    )
    mc = umask.groupBy("m").agg(F.count(F.lit(1)).alias("conv")).localCheckpoint(
        eager=True
    )
    # Guard BEFORE materializing 2^n coalitions: with fixture drift
    # (say 40 channels) the eager checkpoint below would otherwise try
    # to build 2^40 rows before any bound check fired.
    if nch > 16:
        raise ValueError(
            f"shapley_attribution: {nch} channels exceeds the exact "
            "2^n coalition bound (16); sample or bucket channels first"
        )
    subsets = spark.range(1 << nch).select(F.col("id").alias("S"))
    v = (
        subsets.join(
            F.broadcast(mc),
            (F.col("m").bitwiseAND(F.col("S"))) == F.col("m"),
            "left",
        )
        .groupBy("S")
        .agg(F.coalesce(F.sum("conv"), F.lit(0)).alias("v"))
        .localCheckpoint(eager=True)  # both coalition arms read it
    )
    # Weights |S|!(n-1-|S|)! derived from the COUNTED channel set
    # (r9 ADVICE: the old CASE hardcoded n=4, so fixture drift would
    # have produced silent NULL phi instead of adapting). Bounded to
    # keep 2^n subsets and n!-scaled integers exact in BIGINT.
    w_expr = (
        f"CAST(factorial(bit_count(S)) AS BIGINT)"
        f" * CAST(factorial({nch} - 1 - bit_count(S)) AS BIGINT)"
    )
    n_fact = float(_math.factorial(nch))
    vx = v.select(F.col("S"), F.col("v").alias("vx"), F.expr(w_expr).alias("w"))
    vy = v.select(F.col("S").alias("Sy"), F.col("v").alias("vy"))
    bitv = F.expr("shiftleft(CAST(1 AS BIGINT), CAST(bit AS INT))")
    return (
        F.broadcast(chan)
        .join(vx, (F.col("S").bitwiseAND(bitv)) == 0)
        .join(vy, F.col("Sy") == (F.col("S").bitwiseOR(bitv)))
        .groupBy(F.col("ch").alias("channel"))
        .agg(
            F.sum(F.col("w") * (F.col("vy") - F.col("vx")))
            .cast("bigint")
            .alias("phi_num"),
            (
                F.sum(F.col("w") * (F.col("vy") - F.col("vx"))).cast("double")
                / F.lit(n_fact)
            ).alias("shapley_conversions"),
        )
        .orderBy("channel")
    )


# ---------------------------------------------------------------------------
# Apriori frequent-triple mining (Agrawal & Srikant VLDB'94) over
# customer × brand baskets — the level-3 step above the pairwise
# co-occurrence tier: candidate triples come from JOINING frequent
# pairs on their shared prefix AND pruning by the third face (every
# 2-subset of a frequent triple must itself be frequent — the Apriori
# property), so the support-count join only ever sees surviving
# candidates, never the C(|items|,3) cross space. Support threshold
# scales with the data (10% of customers, one scalar). All counts
# exact integers.
@_q(
    "apriori_brand_triples",
    """
    WITH baskets AS (
      SELECT DISTINCT o.o_custkey AS cust, p.p_brand AS item
      FROM orders o
      JOIN lineitem l ON l.l_orderkey = o.o_orderkey
      JOIN part p ON p.p_partkey = l.l_partkey
    ),
    thr AS (
      SELECT CAST(ceil(0.1 * COUNT(DISTINCT cust)) AS BIGINT) AS s
      FROM baskets
    ),
    pairs AS (
      SELECT a.item AS i1, b.item AS i2, COUNT(*) AS sup
      FROM baskets a JOIN baskets b
        ON a.cust = b.cust AND a.item < b.item
      GROUP BY a.item, b.item
      HAVING COUNT(*) >= (SELECT s FROM thr)
    ),
    cand AS (
      SELECT p1.i1, p1.i2, p2.i2 AS i3
      FROM pairs p1 JOIN pairs p2
        ON p2.i1 = p1.i1 AND p2.i2 > p1.i2
      WHERE EXISTS (SELECT 1 FROM pairs f
                    WHERE f.i1 = p1.i2 AND f.i2 = p2.i2)
    ),
    sup3 AS (
      SELECT c.i1, c.i2, c.i3, COUNT(*) AS support
      FROM cand c
      JOIN baskets b1 ON b1.item = c.i1
      JOIN baskets b2 ON b2.item = c.i2 AND b2.cust = b1.cust
      JOIN baskets b3 ON b3.item = c.i3 AND b3.cust = b1.cust
      GROUP BY c.i1, c.i2, c.i3
      HAVING COUNT(*) >= (SELECT s FROM thr)
    )
    SELECT i1, i2, i3, CAST(support AS BIGINT) AS support
    FROM sup3 ORDER BY support DESC, i1, i2, i3 LIMIT 10
    """,
)
def q_apriori_brand_triples(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = t(spark, sf_dir, "orders")
    li = t(spark, sf_dir, "lineitem")
    p = t(spark, sf_dir, "part")
    baskets = (
        o.join(li, o["o_orderkey"] == li["l_orderkey"])
        .join(p, li["l_partkey"] == p["p_partkey"])
        .select(F.col("o_custkey").alias("cust"), F.col("p_brand").alias("item"))
        .distinct()
        .localCheckpoint(eager=True)  # read by thr, pairs, sup3
    )
    s = int(
        baskets.agg(
            F.ceil(0.1 * F.countDistinct("cust")).cast("bigint").alias("s")
        ).collect()[0]["s"]
    )
    a = baskets.select(F.col("cust").alias("ca"), F.col("item").alias("i1"))
    b = baskets.select(F.col("cust").alias("cb"), F.col("item").alias("i2"))
    pairs = (
        a.join(b, (F.col("ca") == F.col("cb")) & (F.col("i1") < F.col("i2")))
        .groupBy("i1", "i2")
        .agg(F.count(F.lit(1)).alias("sup"))
        .where(F.col("sup") >= s)
        .localCheckpoint(eager=True)  # read 3x: two join arms + prune face
    )
    p2 = pairs.select(
        F.col("i1").alias("j1"), F.col("i2").alias("i3")
    )
    face = pairs.select(
        F.col("i1").alias("f1"), F.col("i2").alias("f2")
    )
    cand = (
        pairs.join(p2, (F.col("j1") == F.col("i1")) & (F.col("i3") > F.col("i2")))
        .join(
            face,
            (F.col("f1") == F.col("i2")) & (F.col("f2") == F.col("i3")),
            "left_semi",
        )
        .select("i1", "i2", "i3")
    )
    b1 = baskets.select(F.col("cust").alias("c1"), F.col("item").alias("m1"))
    b2 = baskets.select(F.col("cust").alias("c2"), F.col("item").alias("m2"))
    b3 = baskets.select(F.col("cust").alias("c3"), F.col("item").alias("m3"))
    sup3 = (
        cand.join(b1, F.col("m1") == F.col("i1"))
        .join(b2, (F.col("m2") == F.col("i2")) & (F.col("c2") == F.col("c1")))
        .join(b3, (F.col("m3") == F.col("i3")) & (F.col("c3") == F.col("c1")))
        .groupBy("i1", "i2", "i3")
        .agg(F.count(F.lit(1)).alias("support"))
        .where(F.col("support") >= s)
    )
    return (
        sup3.select("i1", "i2", "i3", F.col("support").cast("bigint").alias("support"))
        .orderBy(F.desc("support"), "i1", "i2", "i3")
        .limit(10)
    )


# ---------------------------------------------------------------------------
# Stratified ATT via propensity buckets (Rosenbaum & Rubin 1983,
# subclassification form) — the causal tier above ab_experiment's
# randomized readout: treatment = order status F, outcome = urgent /
# high priority, strata = (market segment × order year). Within each
# stratum the treated/control outcome gap is an exact rational; the
# ATT weights strata by their TREATED mass. Cross-stratum combination
# follows the round-then-DECIMAL-sum seam: per-stratum contribution =
# round(n1b·(ȳ1b − ȳ0b), 9) summed exactly, ONE division by total
# treated. Strata with an empty arm are excluded and counted — the
# off-support mass is part of the report, not silently dropped.
@_q(
    "att_propensity_strata",
    """
    WITH j AS (
      SELECT c.c_mktsegment AS seg, year(o.o_orderdate) AS yr,
             CASE WHEN o.o_orderstatus = 'F' THEN 1 ELSE 0 END AS tr,
             CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                  THEN 1 ELSE 0 END AS y
      FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
    ),
    strata AS (
      SELECT seg, yr,
             SUM(tr) AS n1, SUM(CASE WHEN tr = 1 THEN y ELSE 0 END) AS y1,
             SUM(1 - tr) AS n0, SUM(CASE WHEN tr = 0 THEN y ELSE 0 END) AS y0
      FROM j GROUP BY seg, yr
    ),
    supported AS (SELECT * FROM strata WHERE n1 > 0 AND n0 > 0)
    SELECT CAST(COUNT(*) AS BIGINT) AS n_strata,
           CAST((SELECT COUNT(*) FROM strata) - COUNT(*) AS BIGINT)
             AS n_off_support,
           CAST(SUM(n1) AS BIGINT) AS n_treated,
           round(CAST(SUM(CAST(round(n1 * (CAST(y1 AS DOUBLE) / n1
                                          - CAST(y0 AS DOUBLE) / n0), 9)
                               AS DECIMAL(38,9))) AS DOUBLE)
                 / SUM(n1), 6) AS att
    FROM supported
    """,
)
def q_att_propensity_strata(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = t(spark, sf_dir, "orders")
    c = t(spark, sf_dir, "customer")
    j = o.join(c, o["o_custkey"] == c["c_custkey"]).select(
        F.col("c_mktsegment").alias("seg"),
        F.year("o_orderdate").alias("yr"),
        F.when(F.col("o_orderstatus") == "F", 1).otherwise(0).alias("tr"),
        F.when(F.col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1)
        .otherwise(0)
        .alias("y"),
    )
    # read by total + supported arms; n_all: the stratum census
    strata, n_all = counted_checkpoint(
        j.groupBy("seg", "yr").agg(
            F.sum("tr").alias("n1"),
            F.sum(F.when(F.col("tr") == 1, F.col("y")).otherwise(0)).alias("y1"),
            F.sum(1 - F.col("tr")).alias("n0"),
            F.sum(F.when(F.col("tr") == 0, F.col("y")).otherwise(0)).alias("y0"),
        )
    )
    sup = strata.where((F.col("n1") > 0) & (F.col("n0") > 0))
    contrib = F.round(
        F.col("n1")
        * (
            F.col("y1").cast("double") / F.col("n1")
            - F.col("y0").cast("double") / F.col("n0")
        ),
        9,
    ).cast("decimal(38,9)")
    return sup.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_strata"),
        (F.lit(n_all) - F.count(F.lit(1)))
        .cast("bigint")
        .alias("n_off_support"),
        F.sum("n1").cast("bigint").alias("n_treated"),
        F.round(
            F.sum(contrib).cast("double") / F.sum("n1"), 6
        ).alias("att"),
    )


# ---------------------------------------------------------------------------
# Markov entropy rate of the per-user event chain (Shannon 1948 §7 —
# the information-theoretic summary of event_transition_matrix):
# H = −Σ_ij p(i,j)·ln p(j|i) over observed bigram transitions, the
# per-step unpredictability of user journeys in nats. Exact integer
# bigram counts reduce the corpus to a |states|² table; each cell's
# term is one double from exact ints round(9), decimal-summed —
# order-free — with ONE final division by the transition total.
@_q(
    "markov_entropy_rate",
    """
    WITH seq AS (
      SELECT user_id, event_type AS s, ts, event_id FROM events
    ),
    bi AS (
      SELECT s AS a,
             lead(s) OVER (PARTITION BY user_id
                           ORDER BY ts, event_id) AS b
      FROM seq
    ),
    c AS (
      SELECT a, b, COUNT(*) AS n FROM bi WHERE b IS NOT NULL GROUP BY a, b
    ),
    row_tot AS (SELECT a, SUM(n) AS na FROM c GROUP BY a),
    tot AS (SELECT SUM(n) AS nt FROM c)
    SELECT CAST(tot.nt AS BIGINT) AS n_transitions,
           CAST(COUNT(*) AS BIGINT) AS n_cells,
           round(CAST(SUM(CAST(round(-1.0 * c.n
                         * ln(CAST(c.n AS DOUBLE) / r.na), 9)
                         AS DECIMAL(38,9))) AS DOUBLE) / tot.nt, 6)
             AS entropy_rate_nats
    FROM c JOIN row_tot r ON r.a = c.a CROSS JOIN tot
    GROUP BY tot.nt
    """,
)
def q_markov_entropy_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    bi = ev.select(
        F.col("event_type").alias("a"),
        F.lead("event_type").over(w).alias("b"),
    ).where(F.col("b").isNotNull())
    c = bi.groupBy("a", "b").agg(F.count(F.lit(1)).alias("n"))
    row_tot = c.groupBy("a").agg(F.sum("n").alias("na"))
    nt = int(c.agg(F.sum("n")).collect()[0][0])  # one scalar
    term = F.round(
        -1.0 * F.col("n") * F.log(F.col("n").cast("double") / F.col("na")),
        9,
    ).cast("decimal(38,9)")
    return (
        c.join(F.broadcast(row_tot), "a")
        .agg(
            F.lit(nt).cast("bigint").alias("n_transitions"),
            F.count(F.lit(1)).cast("bigint").alias("n_cells"),
            F.round(F.sum(term).cast("double") / nt, 6).alias(
                "entropy_rate_nats"
            ),
        )
    )


# ---------------------------------------------------------------------------
# IPW / stratification ATE (Rosenbaum & Rubin 1983; Lunceford &
# Davidian 2004 eq. 2): with a DISCRETE propensity (seg x year
# strata, same confounder set as att_propensity_strata), inverse-
# propensity weighting collapses to the stratification estimator
# with n_s/N weights — ATE = sum_s n_s*(y1bar_s - y0bar_s)/N —
# completing the causal pair: ATT reweights by treated mass, ATE by
# total mass. The naive unadjusted difference rides along so the
# confounding correction is visible in one row. Per-stratum terms
# round(9) then sum as DECIMAL(38,9) (order-independent), exact
# integers everywhere else.
@_q(
    "ipw_ate_estimate",
    """
    WITH j AS (
      SELECT c.c_mktsegment AS seg, year(o.o_orderdate) AS yr,
             CASE WHEN o.o_orderstatus = 'F' THEN 1 ELSE 0 END AS tr,
             CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                  THEN 1 ELSE 0 END AS y
      FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
    ),
    strata AS (
      SELECT seg, yr,
             SUM(tr) AS n1, SUM(CASE WHEN tr = 1 THEN y ELSE 0 END) AS y1,
             SUM(1 - tr) AS n0, SUM(CASE WHEN tr = 0 THEN y ELSE 0 END) AS y0
      FROM j GROUP BY seg, yr
    ),
    supported AS (SELECT * FROM strata WHERE n1 > 0 AND n0 > 0),
    naive AS (
      SELECT CAST(SUM(CASE WHEN tr = 1 THEN y ELSE 0 END) AS DOUBLE)
               / SUM(tr)
             - CAST(SUM(CASE WHEN tr = 0 THEN y ELSE 0 END) AS DOUBLE)
               / SUM(1 - tr) AS d
      FROM j
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_strata,
           CAST(SUM(n1 + n0) AS BIGINT) AS n_supported,
           round((SELECT d FROM naive), 6) AS naive_diff,
           round(CAST(SUM(CAST(round((n1 + n0)
                                     * (CAST(y1 AS DOUBLE) / n1
                                        - CAST(y0 AS DOUBLE) / n0), 9)
                               AS DECIMAL(38,9))) AS DOUBLE)
                 / SUM(n1 + n0), 6) AS ate
    FROM supported
    """,
)
def q_ipw_ate_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = t(spark, sf_dir, "orders")
    c = t(spark, sf_dir, "customer")
    j = o.join(c, o["o_custkey"] == c["c_custkey"]).select(
        F.col("c_mktsegment").alias("seg"),
        F.year("o_orderdate").alias("yr"),
        F.when(F.col("o_orderstatus") == "F", 1).otherwise(0).alias("tr"),
        F.when(F.col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1)
        .otherwise(0)
        .alias("y"),
    ).localCheckpoint(eager=True)  # strata + naive arms share it
    strata = j.groupBy("seg", "yr").agg(
        F.sum("tr").alias("n1"),
        F.sum(F.when(F.col("tr") == 1, F.col("y")).otherwise(0)).alias("y1"),
        F.sum(1 - F.col("tr")).alias("n0"),
        F.sum(F.when(F.col("tr") == 0, F.col("y")).otherwise(0)).alias("y0"),
    )
    supported = strata.where((F.col("n1") > 0) & (F.col("n0") > 0))
    naive = j.agg(
        (
            F.sum(F.when(F.col("tr") == 1, F.col("y")).otherwise(0)).cast(
                "double"
            )
            / F.sum("tr")
            - F.sum(F.when(F.col("tr") == 0, F.col("y")).otherwise(0)).cast(
                "double"
            )
            / F.sum(1 - F.col("tr"))
        ).alias("d")
    )
    ns = F.col("n1") + F.col("n0")
    term = F.round(
        ns
        * (
            F.col("y1").cast("double") / F.col("n1")
            - F.col("y0").cast("double") / F.col("n0")
        ),
        9,
    ).cast("decimal(38,9)")
    return supported.crossJoin(F.broadcast(naive)).groupBy("d").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_strata"),
        F.sum(ns).cast("bigint").alias("n_supported"),
        F.round(F.col("d"), 6).alias("naive_diff"),
        F.round(F.sum(term).cast("double") / F.sum(ns), 6).alias("ate"),
    ).select("n_strata", "n_supported", "naive_diff", "ate")


# ---------------------------------------------------------------------------
# nDCG@10 of the item-item recommender under a TEMPORAL holdout —
# the offline eval every recommender ships with (Jarvelin &
# Kekalainen TOIS 2002): train co-occurrence sims on the first 80% of
# the order calendar, recommend top-10 per customer, score binary
# relevance against parts first bought in the held-out tail. Rank
# weights 1/log2(rank+1) are a broadcast 10-row table with per-term
# round(12) (the one transcendental); per-customer nDCG rounds to 9
# and accumulates as DECIMAL(38,9) so the corpus mean is order-
# independent. Scale shape identical to item_recommendations (the sim
# head broadcasts; the customer-item table shuffles once), PLUS the
# kNN neighborhood cap classic item-based CF prescribes (Sarwar et
# al. WWW'01): each item keeps only its top-_REC_NEIGHBORS most
# similar items (sim desc, id tiebreak), so candidate generation is
# bounded at |train interactions| x M instead of growing with the
# similarity graph's density — the stage the 10x scaling probe
# showed superlinear before the cap (1.88x wall; the cap holds the
# candidate fan-out constant per interaction at any SF).
_NDCG_K = 10
_REC_NEIGHBORS = 50


@_q(
    "ndcg_recommendations",
    f"""
    WITH bounds AS (
      SELECT MIN(o_orderdate) + INTERVAL (CAST(date_diff('day',
               MIN(o_orderdate), MAX(o_orderdate)) * 8 // 10 AS BIGINT)) DAY
               AS cut
      FROM orders
    ),
    train_b AS (
      SELECT DISTINCT l.l_orderkey, l.l_partkey
      FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey,
           bounds WHERE o.o_orderdate < bounds.cut
    ),
    deg AS (SELECT l_partkey, COUNT(*) AS d FROM train_b GROUP BY 1),
    pairs AS (
      SELECT a.l_partkey AS pa, b.l_partkey AS pb, COUNT(*) AS co
      FROM train_b a JOIN train_b b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2
    ),
    sims AS MATERIALIZED (
      SELECT pa, pb,
             CAST(round(CAST(co AS DOUBLE)
                  / sqrt(CAST(da.d AS DOUBLE) * CAST(db.d AS DOUBLE)), 6)
                  AS DECIMAL(18,6)) AS sim
      FROM pairs JOIN deg da ON da.l_partkey = pairs.pa
                 JOIN deg db ON db.l_partkey = pairs.pb
      WHERE co >= {_REC_MIN_CO}
    ),
    sim2 AS (
      SELECT i, j, sim FROM (
        SELECT i, j, sim,
               row_number() OVER (PARTITION BY i ORDER BY sim DESC, j)
                 AS nrn
        FROM (SELECT pa AS i, pb AS j, sim FROM sims
              UNION ALL SELECT pb AS i, pa AS j, sim FROM sims)
      ) WHERE nrn <= {_REC_NEIGHBORS}
    ),
    train_ci AS MATERIALIZED (
      SELECT DISTINCT o.o_custkey AS c, l.l_partkey AS i
      FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey, bounds
      WHERE o.o_orderdate < bounds.cut
    ),
    test_rel AS MATERIALIZED (
      SELECT DISTINCT o.o_custkey AS c, l.l_partkey AS i
      FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey, bounds
      WHERE o.o_orderdate >= bounds.cut
        AND NOT EXISTS (SELECT 1 FROM train_ci t
                        WHERE t.c = o.o_custkey AND t.i = l.l_partkey)
    ),
    recs AS (
      SELECT c, j, rn FROM (
        SELECT ci.c, s.j,
               row_number() OVER (PARTITION BY ci.c
                 ORDER BY SUM(s.sim) DESC, s.j) AS rn
        FROM train_ci ci JOIN sim2 s ON s.i = ci.i
        WHERE NOT EXISTS (SELECT 1 FROM train_ci o2
                          WHERE o2.c = ci.c AND o2.i = s.j)
        GROUP BY ci.c, s.j
      ) WHERE rn <= {_NDCG_K}
    ),
    w AS (
      SELECT i AS rk, round(1.0 / log2(i + 1.0), 12) AS wt,
             round(SUM(round(1.0 / log2(i + 1.0), 12))
               OVER (ORDER BY i), 12) AS cum_wt
      FROM unnest(generate_series(1, {_NDCG_K})) AS g(i)
    ),
    dcg AS (
      SELECT r.c, SUM(w.wt) AS dcg
      FROM recs r JOIN test_rel t ON t.c = r.c AND t.i = r.j
      JOIN w ON w.rk = r.rn
      GROUP BY r.c
    ),
    nrel AS (
      SELECT c, COUNT(*) AS nr FROM test_rel GROUP BY c
    ),
    evalu AS (
      SELECT nrel.c,
             round(COALESCE(dcg.dcg, 0.0)
                   / (SELECT cum_wt FROM w
                      WHERE rk = LEAST(nrel.nr, {_NDCG_K})), 9) AS ndcg
      FROM nrel LEFT JOIN dcg ON dcg.c = nrel.c
      WHERE EXISTS (SELECT 1 FROM recs WHERE recs.c = nrel.c)
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_customers,
           round(CAST(SUM(CAST(ndcg AS DECIMAL(38,9))) AS DOUBLE)
                 / COUNT(*), 6) AS mean_ndcg_at_10,
           round(CAST(SUM(CASE WHEN ndcg > 0 THEN 1 ELSE 0 END) AS DOUBLE)
                 / COUNT(*), 6) AS hit_rate_at_10
    FROM evalu
    """,
)
def q_ndcg_recommendations(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderdate"
    )
    li = t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    bounds = o.agg(
        F.expr(
            "MIN(o_orderdate) + make_interval(0, 0, 0, "
            "CAST(datediff(MAX(o_orderdate), MIN(o_orderdate)) * 8 DIV 10 "
            "AS INT), 0, 0, 0)"
        ).alias("cut")
    )
    j = o.join(li, o["o_orderkey"] == li["l_orderkey"]).crossJoin(
        F.broadcast(bounds)
    )
    train_b = (
        j.where(F.col("o_orderdate") < F.col("cut"))
        .select("l_orderkey", "l_partkey")
        .distinct()
    )
    deg = train_b.groupBy("l_partkey").agg(F.count(F.lit(1)).alias("d"))
    pairs = _order_pairs(train_b, _REC_MIN_CO)
    da = deg.select(F.col("l_partkey").alias("pa"), F.col("d").alias("da"))
    db = deg.select(F.col("l_partkey").alias("pb"), F.col("d").alias("db"))
    sims = (
        pairs.join(da, "pa")
        .join(db, "pb")
        .select(
            "pa",
            "pb",
            F.round(
                F.col("co").cast("double")
                / F.sqrt(F.col("da").cast("double") * F.col("db").cast("double")),
                6,
            )
            .cast("decimal(18,6)")
            .alias("sim"),
        )
        .localCheckpoint(eager=True)
    )
    wnbr = Window.partitionBy("i").orderBy(F.desc("sim"), F.asc("j"))
    sim2 = (
        sims.select(F.col("pa").alias("i"), F.col("pb").alias("j"), "sim")
        .unionByName(
            sims.select(F.col("pb").alias("i"), F.col("pa").alias("j"), "sim")
        )
        .withColumn("nrn", F.row_number().over(wnbr))
        .where(F.col("nrn") <= _REC_NEIGHBORS)
        .drop("nrn")
    )
    train_ci = (
        j.where(F.col("o_orderdate") < F.col("cut"))
        .select(F.col("o_custkey").alias("c"), F.col("l_partkey").alias("i"))
        .distinct()
        .localCheckpoint(eager=True)  # recs + owned-filter + test-rel anti
    )
    test_rel = (
        j.where(F.col("o_orderdate") >= F.col("cut"))
        .select(F.col("o_custkey").alias("c"), F.col("l_partkey").alias("i"))
        .distinct()
        .join(train_ci, ["c", "i"], "left_anti")
        .localCheckpoint(eager=True)  # dcg + nrel share it
    )
    owned = train_ci.select(F.col("c").alias("oc"), F.col("i").alias("oj"))
    wrec = Window.partitionBy("c").orderBy(F.desc("score"), F.asc("j"))
    recs = (
        train_ci.join(F.broadcast(sim2), "i")
        .join(
            owned,
            (F.col("c") == F.col("oc")) & (F.col("j") == F.col("oj")),
            "left_anti",
        )
        .groupBy("c", "j")
        .agg(F.sum("sim").alias("score"))
        .withColumn("rn", F.row_number().over(wrec))
        .where(F.col("rn") <= _NDCG_K)
        .localCheckpoint(eager=True)  # dcg + exists-filter share it
    )
    wts = (
        recs.sparkSession.range(1, _NDCG_K + 1)
        .select(F.col("id").alias("rk"))
        .select(
            "rk",
            F.round(1.0 / F.log2(F.col("rk") + 1.0), 12).alias("wt"),
        )
        .select(
            "rk",
            "wt",
            F.round(
                F.sum("wt").over(
                    Window.orderBy("rk").rowsBetween(
                        Window.unboundedPreceding, 0
                    )
                ),
                12,
            ).alias("cum_wt"),
        )
    )
    dcg = (
        recs.join(test_rel, (recs["c"] == test_rel["c"]) & (recs["j"] == test_rel["i"]))
        .select(recs["c"].alias("dc"), "rn")
        .join(F.broadcast(wts), F.col("rn") == F.col("rk"))
        .groupBy("dc")
        .agg(F.sum("wt").alias("dcg"))
    )
    nrel = test_rel.groupBy("c").agg(F.count(F.lit(1)).alias("nr"))
    has_recs = recs.select("c").distinct()
    evalu = (
        nrel.join(has_recs, "c")
        .join(dcg, nrel["c"] == F.col("dc"), "left")
        .join(
            F.broadcast(wts.select(F.col("rk").alias("lk"), "cum_wt")),
            F.least(F.col("nr"), F.lit(_NDCG_K)) == F.col("lk"),
        )
        .select(
            F.round(
                F.coalesce(F.col("dcg"), F.lit(0.0)) / F.col("cum_wt"), 9
            ).alias("ndcg")
        )
    )
    return evalu.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_customers"),
        F.round(
            F.sum(F.col("ndcg").cast("decimal(38,9)")).cast("double")
            / F.count(F.lit(1)),
            6,
        ).alias("mean_ndcg_at_10"),
        F.round(
            F.sum(F.when(F.col("ndcg") > 0, 1).otherwise(0)).cast("double")
            / F.count(F.lit(1)),
            6,
        ).alias("hit_rate_at_10"),
    )


# ---------------------------------------------------------------------------
# Kaplan-Meier RETENTION curve (Kaplan & Meier JASA 1958, r13) — the
# churn-side sibling of experiment_queries.kaplan_meier_conversion
# (which estimates signup->purchase conversion spells; this one
# estimates activity-lifetime survival against churn — real analytics
# suites ship both, and the two differ in spell definition, censoring
# rule, and machinery: this one proves the SEQUENTIAL left-fold
# product discipline). Per cohort,
# S(t) = prod over event times t_i <= t of (1 - d_i / n_i), with
# right-censoring (users with a purchase in their final 3 days of
# activity are censored at their last-seen day; the rest churn there).
# Exactness: every count is an integer; each factor is one double
# division of identical integers; the running product is a SEQUENTIAL
# left fold over the time-ordered factors in BOTH engines (Spark
# F.aggregate over the sorted array slice; DuckDB list_product over an
# ORDER BY list — verified left-fold-identical), so the products are
# bit-equal with no transcendental anywhere. At 100 TB: one groupBy
# per user, one per (cohort, day); the per-cohort step table is
# day-bounded (30 rows), so the array fold is a scalar-sized payload.
@_q(
    "kaplan_meier_survival",
    """
    WITH ev AS (
      SELECT user_id, ts, event_type,
             MAX(epoch_ms(ts)) OVER (PARTITION BY user_id) AS last_ms
      FROM events
    ),
    users AS (
      -- churned = no purchase within the final 3 days of activity;
      -- converters are right-censored at their last-seen day
      SELECT CAST(user_id % 4 AS BIGINT) AS cohort,
             datediff('day', CAST(MIN(ts) AS DATE), CAST(MAX(ts) AS DATE))
               AS t,
             1 - MAX(CASE WHEN event_type = 'purchase'
                          AND epoch_ms(ts) >= last_ms - 259200000
                          THEN 1 ELSE 0 END) AS death
      FROM ev GROUP BY user_id
    ),
    counts AS (
      SELECT cohort, t, CAST(SUM(death) AS BIGINT) AS d,
             COUNT(*) AS m
      FROM users GROUP BY cohort, t
    ),
    tot AS (SELECT cohort, COUNT(*) AS n FROM users GROUP BY cohort),
    risk AS (
      SELECT c.cohort, c.t, c.d,
             tot.n - COALESCE(SUM(c.m) OVER (
               PARTITION BY c.cohort ORDER BY c.t
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS n_risk
      FROM counts c JOIN tot ON tot.cohort = c.cohort
    ),
    steps AS (
      SELECT cohort, t, d, n_risk,
             1.0 - CAST(d AS DOUBLE) / n_risk AS factor
      FROM risk WHERE d >= 1
    )
    SELECT s.cohort, CAST(s.t AS BIGINT) AS t,
           CAST(s.n_risk AS BIGINT) AS n_risk,
           s.d AS n_events,
           round((SELECT list_product(list(f.factor ORDER BY f.t))
                  FROM steps f
                  WHERE f.cohort = s.cohort AND f.t <= s.t), 9) AS km
    FROM steps s
    ORDER BY s.cohort, s.t
    """,
)
def q_kaplan_meier_survival(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events").select("user_id", "ts", "event_type")
    tms = F.floor(F.unix_micros(F.col("ts").cast("timestamp")) / 1000).cast(
        "bigint"
    )
    wu = Window.partitionBy("user_id")
    ev2 = ev.select(
        "user_id",
        F.col("ts").cast("timestamp").alias("tss"),
        "event_type",
        tms.alias("tms"),
    ).withColumn("last_ms", F.max("tms").over(wu))
    # churned = no purchase within the final 3 days of activity
    users = ev2.groupBy("user_id").agg(
        F.datediff(
            F.max("tss").cast("date"), F.min("tss").cast("date")
        ).alias("t"),
        (
            1
            - F.max(
                F.when(
                    (F.col("event_type") == "purchase")
                    & (F.col("tms") >= F.col("last_ms") - 259200000),
                    1,
                ).otherwise(0)
            )
        ).alias("death"),
    ).select(
        (F.col("user_id") % 4).cast("bigint").alias("cohort"), "t", "death"
    )
    counts = users.groupBy("cohort", "t").agg(
        F.sum("death").cast("bigint").alias("d"),
        F.count(F.lit(1)).alias("m"),
    )
    tot = users.groupBy("cohort").agg(F.count(F.lit(1)).alias("n"))
    w_prev = (
        Window.partitionBy("cohort")
        .orderBy("t")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    risk = counts.join(tot, "cohort").select(
        "cohort",
        "t",
        "d",
        (
            F.col("n") - F.coalesce(F.sum("m").over(w_prev), F.lit(0))
        ).alias("n_risk"),
    )
    steps = risk.where(F.col("d") >= 1).withColumn(
        "factor", 1.0 - F.col("d").cast("double") / F.col("n_risk")
    )
    # running product: sorted factor array per cohort, SEQUENTIAL left
    # fold over the slice up to each step (bit-equal to the twin's
    # ordered list_product)
    arrs = steps.groupBy("cohort").agg(
        F.array_sort(
            F.collect_list(F.struct("t", "d", "n_risk", "factor"))
        ).alias("arr")
    )
    exploded = arrs.select(
        "cohort", F.posexplode("arr").alias("pos", "s")
    )
    km = F.aggregate(
        F.transform(
            F.slice(
                F.col("arr2"), F.lit(1), F.col("pos") + 1
            ),
            lambda x: x["factor"],
        ),
        F.lit(1.0),
        lambda acc, x: acc * x,
    )
    return (
        exploded.join(arrs.select(F.col("cohort"), F.col("arr").alias("arr2")), "cohort")
        .select(
            "cohort",
            F.col("s.t").cast("bigint").alias("t"),
            F.col("s.n_risk").cast("bigint").alias("n_risk"),
            F.col("s.d").alias("n_events"),
            F.round(km, 9).alias("km"),
        )
        .orderBy("cohort", "t")
    )


# ---------------------------------------------------------------------------
# Aalen-Johansen cumulative incidence under COMPETING RISKS — the
# estimator KM cannot replace when two terminal events compete
# (1 - KM per cause overestimates both): here each user's journey
# ends at the FIRST purchase or FIRST error, whichever comes first
# (users with neither are right-censored at their last active day),
# and CIF_k(t) = sum_{t_i <= t} S(t_i-) * d_k,i / n_i with S the
# ALL-CAUSE Kaplan-Meier. Same exactness discipline as
# kaplan_meier_survival: risk sets are integer window sums, S(t-) is
# a sequential ordered product (Catalyst slice-fold = DuckDB ordered
# list_product), and the CIF accumulation is an ordered running sum
# — bit-identical both engines because every input scalar is.
@_q(
    "aalen_johansen_cif",
    """
    WITH ev AS (
      SELECT user_id, CAST(ts AS DATE) AS d, event_type,
             MIN(CAST(ts AS DATE)) OVER (PARTITION BY user_id) AS d0
      FROM events
    ),
    firsts AS (
      SELECT user_id,
             MIN(CASE WHEN event_type IN ('purchase', 'error')
                      THEN d END) AS dstar,
             MIN(CASE WHEN event_type IN ('purchase', 'error')
                      THEN {'d': d, 'et': event_type} END) AS first_comp,
             MAX(d) AS dlast, MIN(d0) AS dfirst
      FROM ev GROUP BY user_id
    ),
    users AS (
      SELECT user_id,
             CAST(datediff('day', dfirst,
                           COALESCE(dstar, dlast)) AS BIGINT) AS t,
             CASE WHEN dstar IS NULL THEN 'censored'
                  ELSE first_comp.et END AS cause
      FROM firsts
    ),
    counts AS (
      SELECT t,
             CAST(SUM(CASE WHEN cause = 'purchase' THEN 1 ELSE 0 END)
                  AS BIGINT) AS dp,
             CAST(SUM(CASE WHEN cause = 'error' THEN 1 ELSE 0 END)
                  AS BIGINT) AS de,
             COUNT(*) AS m
      FROM users GROUP BY t
    ),
    tot AS (SELECT COUNT(*) AS n FROM users),
    risk AS (
      SELECT c.t, c.dp, c.de,
             tot.n - COALESCE(SUM(c.m) OVER (
               ORDER BY c.t
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS n_risk
      FROM counts c CROSS JOIN tot
    ),
    steps AS (
      SELECT t, dp, de, n_risk,
             1.0 - CAST(dp + de AS DOUBLE) / n_risk AS factor
      FROM risk WHERE dp + de >= 1
    ),
    terms AS (
      SELECT s.t, s.dp, s.de, s.n_risk,
             COALESCE((SELECT list_product(list(f.factor ORDER BY f.t))
                       FROM steps f WHERE f.t < s.t), 1.0) AS s_prev
      FROM steps s
    )
    SELECT CAST(t AS BIGINT) AS t, CAST(n_risk AS BIGINT) AS n_risk,
           dp AS d_purchase, de AS d_error,
           round(SUM(s_prev * dp / n_risk) OVER (ORDER BY t), 9)
             AS cif_purchase,
           round(SUM(s_prev * de / n_risk) OVER (ORDER BY t), 9)
             AS cif_error
    FROM terms ORDER BY t
    """,
)
def q_aalen_johansen_cif(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events").select(
        "user_id",
        F.col("ts").cast("date").alias("d"),
        "event_type",
    )
    comp = F.when(
        F.col("event_type").isin("purchase", "error"), F.col("d")
    )
    firsts = ev.groupBy("user_id").agg(
        F.min(comp).alias("dstar"),
        F.min(
            F.when(
                F.col("event_type").isin("purchase", "error"),
                F.struct(F.col("d"), F.col("event_type").alias("et")),
            )
        ).alias("first_comp"),
        F.max("d").alias("dlast"),
        F.min("d").alias("dfirst"),
    )
    users = firsts.select(
        F.datediff(
            F.coalesce(F.col("dstar"), F.col("dlast")), F.col("dfirst")
        )
        .cast("bigint")
        .alias("t"),
        F.when(F.col("dstar").isNull(), "censored")
        .otherwise(F.col("first_comp.et"))
        .alias("cause"),
    )
    counts = users.groupBy("t").agg(
        F.sum(F.when(F.col("cause") == "purchase", 1).otherwise(0))
        .cast("bigint")
        .alias("dp"),
        F.sum(F.when(F.col("cause") == "error", 1).otherwise(0))
        .cast("bigint")
        .alias("de"),
        F.count(F.lit(1)).alias("m"),
    )
    tot = users.agg(F.count(F.lit(1)).alias("n"))
    w_prev = Window.orderBy("t").rowsBetween(Window.unboundedPreceding, -1)
    risk = counts.crossJoin(F.broadcast(tot)).select(
        "t",
        "dp",
        "de",
        (F.col("n") - F.coalesce(F.sum("m").over(w_prev), F.lit(0))).alias(
            "n_risk"
        ),
    )
    steps = risk.where(F.col("dp") + F.col("de") >= 1).withColumn(
        "factor",
        1.0 - (F.col("dp") + F.col("de")).cast("double") / F.col("n_risk"),
    )
    arrs = steps.groupBy().agg(
        F.array_sort(
            F.collect_list(F.struct("t", "dp", "de", "n_risk", "factor"))
        ).alias("arr")
    )
    exploded = arrs.select(F.posexplode("arr").alias("pos", "s"), "arr")
    s_prev = F.aggregate(
        F.transform(
            F.slice(F.col("arr"), F.lit(1), F.col("pos")), lambda x: x["factor"]
        ),
        F.lit(1.0),
        lambda acc, x: acc * x,
    )
    terms = exploded.select(
        F.col("s.t").alias("t"),
        F.col("s.dp").alias("dp"),
        F.col("s.de").alias("de"),
        F.col("s.n_risk").alias("n_risk"),
        s_prev.alias("s_prev"),
    )
    w_cum = Window.orderBy("t").rowsBetween(Window.unboundedPreceding, 0)
    return terms.select(
        F.col("t").cast("bigint").alias("t"),
        F.col("n_risk").cast("bigint").alias("n_risk"),
        F.col("dp").alias("d_purchase"),
        F.col("de").alias("d_error"),
        F.round(
            F.sum(F.col("s_prev") * F.col("dp") / F.col("n_risk")).over(w_cum),
            9,
        ).alias("cif_purchase"),
        F.round(
            F.sum(F.col("s_prev") * F.col("de") / F.col("n_risk")).over(w_cum),
            9,
        ).alias("cif_error"),
    ).orderBy("t")


# ---------------------------------------------------------------------------
# Bradley-Terry paired-comparison ratings (MM algorithm, Hunter 2004,
# 5 unrolled sweeps) — the principled "who actually beats whom"
# ranking: a month is a match between two brands, won by the higher
# revenue; BT skill s_a satisfies s_a = W_a / sum_b n_ab/(s_a+s_b),
# which raw win-rates get wrong under uneven schedules. Lockstep
# discipline: per-pair terms round to the 1e-12 lattice and sum in
# DECIMAL; updated skills renormalize to mean 1 and re-round(12) —
# every sweep is a broadcast-sized join (25 players, ~300 pairs)
# regardless of corpus size; the only row-volume pass is the monthly
# revenue rollup.
_BT_SWEEPS = 5


def _sql_bradley_terry() -> str:
    ctes = [
        """rev AS MATERIALIZED (
      SELECT p.p_brand AS brand,
             CAST(year(l.l_shipdate) * 12 + month(l.l_shipdate) AS BIGINT)
               AS m,
             CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2)))
                  AS DECIMAL(38,2)) AS r
      FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
      GROUP BY 1, 2
    ),
    duels AS MATERIALIZED (
      SELECT a.brand AS pa, b.brand AS pb,
             CAST(SUM(CASE WHEN a.r > b.r THEN 1 ELSE 0 END) AS BIGINT)
               AS wins_a,
             CAST(SUM(CASE WHEN a.r <> b.r THEN 1 ELSE 0 END) AS BIGINT)
               AS n_ab
      FROM rev a JOIN rev b ON b.m = a.m AND b.brand <> a.brand
      GROUP BY 1, 2
    ),
    players AS MATERIALIZED (
      SELECT pa AS p, CAST(SUM(wins_a) AS BIGINT) AS w
      FROM duels GROUP BY 1
    ),
    np AS (SELECT CAST(COUNT(*) AS BIGINT) AS np FROM players),
    s0 AS (SELECT p, w, CAST(1.0 AS DOUBLE) AS s FROM players)"""
    ]
    for k in range(_BT_SWEEPS):
        ctes.append(
            f"""u{k} AS MATERIALIZED (
      SELECT d.pa AS p,
             CAST(SUM(CAST(round(d.n_ab / (sa.s + sb.s), 12)
                           AS DECIMAL(38,12))) AS DOUBLE) AS denom
      FROM duels d JOIN s{k} sa ON sa.p = d.pa
                   JOIN s{k} sb ON sb.p = d.pb
      WHERE d.n_ab > 0
      GROUP BY d.pa
    ),
    raw{k} AS MATERIALIZED (
      SELECT s.p, s.w, round(s.w / u.denom, 12) AS sr
      FROM s{k} s JOIN u{k} u ON u.p = s.p
    ),
    s{k + 1} AS MATERIALIZED (
      SELECT p, w,
             round(sr * np.np
                   / CAST((SELECT SUM(CAST(round(sr, 12) AS DECIMAL(38,12)))
                           FROM raw{k}) AS DOUBLE), 12) AS s
      FROM raw{k} CROSS JOIN np
    )"""
        )
    return (
        "WITH "
        + ",\n    ".join(ctes)
        + f"""
    SELECT p AS brand, CAST(w AS BIGINT) AS n_wins,
           round(s, 6) AS bt_skill
    FROM s{_BT_SWEEPS} ORDER BY bt_skill DESC, brand
    """
    )


@_q("bradley_terry_ratings", _sql_bradley_terry())
def q_bradley_terry_ratings(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem")
    part = t(spark, sf_dir, "part")
    rev = (
        li.join(
            F.broadcast(part.select("p_partkey", "p_brand")),
            F.col("l_partkey") == F.col("p_partkey"),
        )
        .groupBy(
            F.col("p_brand").alias("brand"),
            (
                F.year("l_shipdate").cast("bigint") * 12
                + F.month("l_shipdate").cast("bigint")
            ).alias("m"),
        )
        .agg(
            F.sum(F.col("l_extendedprice").cast("decimal(18,2)"))
            .cast("decimal(38,2)")
            .alias("r")
        )
        .localCheckpoint(eager=True)
    )
    a = rev.select(
        F.col("brand").alias("pa"), F.col("m").alias("ma"), F.col("r").alias("ra")
    )
    b = rev.select(
        F.col("brand").alias("pb"), F.col("m").alias("mb"), F.col("r").alias("rb")
    )
    duels = (
        a.join(b, (F.col("mb") == F.col("ma")) & (F.col("pb") != F.col("pa")))
        .groupBy("pa", "pb")
        .agg(
            F.sum(F.when(F.col("ra") > F.col("rb"), 1).otherwise(0))
            .cast("bigint")
            .alias("wins_a"),
            F.sum(F.when(F.col("ra") != F.col("rb"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_ab"),
        )
        .localCheckpoint(eager=True)
    )
    players = duels.groupBy(F.col("pa").alias("p")).agg(
        F.sum("wins_a").cast("bigint").alias("w")
    )
    np_ = players.agg(F.count(F.lit(1)).cast("bigint").alias("np"))
    s = players.withColumn("s", F.lit(1.0)).localCheckpoint(eager=True)
    for _ in range(_BT_SWEEPS):
        sa = s.select(F.col("p").alias("pa"), F.col("s").alias("sa"))
        sb = s.select(F.col("p").alias("pb"), F.col("s").alias("sb"))
        denom = (
            duels.where(F.col("n_ab") > 0)
            .join(F.broadcast(sa), "pa")
            .join(F.broadcast(sb), "pb")
            .groupBy(F.col("pa").alias("p"))
            .agg(
                F.sum(
                    F.round(
                        F.col("n_ab") / (F.col("sa") + F.col("sb")), 12
                    ).cast("decimal(38,12)")
                )
                .cast("double")
                .alias("denom")
            )
        )
        raw = s.join(F.broadcast(denom), "p").select(
            "p", "w", F.round(F.col("w") / F.col("denom"), 12).alias("sr")
        )
        tot = raw.agg(
            F.sum(F.round(F.col("sr"), 12).cast("decimal(38,12)"))
            .cast("double")
            .alias("tot")
        )
        s = (
            raw.crossJoin(F.broadcast(tot))
            .crossJoin(F.broadcast(np_))
            .select(
                "p",
                "w",
                F.round(
                    F.col("sr") * F.col("np") / F.col("tot"), 12
                ).alias("s"),
            )
            .localCheckpoint(eager=True)
        )
    return s.select(
        F.col("p").alias("brand"),
        F.col("w").alias("n_wins"),
        F.round("s", 6).alias("bt_skill"),
    ).orderBy(F.desc("bt_skill"), "brand")


# ---------------------------------------------------------------------------
# Restricted mean survival time (RMST, tau = 20 days) — the
# clinically preferred KM summary when hazards aren't proportional:
# the AREA under the survival curve up to the horizon, i.e. expected
# days survived of the first tau. Reuses kaplan_meier_survival's
# churn cohorts and its exactness machinery: step survivals are the
# same ordered sequential products, each rectangle S(t_k) x
# (min(t_(k+1), tau) - t_k) is rounded to the 1e-9 lattice and
# summed in DECIMAL, and the leading [0, t_1) strip at S = 1 is
# added exactly. Cohorts whose first event day exceeds tau get RMST
# = tau (the degenerate strip), by the same formula.
_RMST_TAU = 20


@_q(
    "rmst_survival",
    f"""
    WITH ev AS (
      SELECT user_id, ts, event_type,
             MAX(epoch_ms(ts)) OVER (PARTITION BY user_id) AS last_ms
      FROM events
    ),
    users AS (
      SELECT CAST(user_id % 4 AS BIGINT) AS cohort,
             datediff('day', CAST(MIN(ts) AS DATE), CAST(MAX(ts) AS DATE))
               AS t,
             1 - MAX(CASE WHEN event_type = 'purchase'
                          AND epoch_ms(ts) >= last_ms - 259200000
                          THEN 1 ELSE 0 END) AS death
      FROM ev GROUP BY user_id
    ),
    counts AS (
      SELECT cohort, t, CAST(SUM(death) AS BIGINT) AS d, COUNT(*) AS m
      FROM users GROUP BY cohort, t
    ),
    tot AS (SELECT cohort, COUNT(*) AS n FROM users GROUP BY cohort),
    risk AS (
      SELECT c.cohort, c.t, c.d,
             tot.n - COALESCE(SUM(c.m) OVER (
               PARTITION BY c.cohort ORDER BY c.t
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS n_risk
      FROM counts c JOIN tot ON tot.cohort = c.cohort
    ),
    steps AS (
      SELECT cohort, t, 1.0 - CAST(d AS DOUBLE) / n_risk AS factor
      FROM risk WHERE d >= 1 AND t < {_RMST_TAU}
    ),
    surv AS (
      SELECT s.cohort, s.t,
             (SELECT list_product(list(f.factor ORDER BY f.t))
              FROM steps f
              WHERE f.cohort = s.cohort AND f.t <= s.t) AS sv,
             COALESCE(LEAD(s.t) OVER (PARTITION BY s.cohort ORDER BY s.t),
                      {_RMST_TAU}) AS t_next
      FROM steps s
    ),
    first_t AS (
      SELECT cohort, MIN(t) AS t1 FROM steps GROUP BY cohort
    ),
    area AS (
      SELECT s.cohort,
             SUM(CAST(round(s.sv * (least(s.t_next, {_RMST_TAU}) - s.t), 9)
                      AS DECIMAL(38,9))) AS a
      FROM surv s GROUP BY s.cohort
    )
    SELECT tot.cohort,
           CAST(tot.n AS BIGINT) AS n_users,
           round(CAST(COALESCE(a.a, 0) AS DOUBLE)
                 + least(COALESCE(f.t1, {_RMST_TAU}), {_RMST_TAU}), 6)
             AS rmst_days
    FROM tot LEFT JOIN area a ON a.cohort = tot.cohort
             LEFT JOIN first_t f ON f.cohort = tot.cohort
    ORDER BY tot.cohort
    """,
)
def q_rmst_survival(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events").select("user_id", "ts", "event_type")
    tms = F.floor(F.unix_micros(F.col("ts").cast("timestamp")) / 1000).cast(
        "bigint"
    )
    wu = Window.partitionBy("user_id")
    ev2 = ev.select(
        "user_id",
        F.col("ts").cast("timestamp").alias("tss"),
        "event_type",
        tms.alias("tms"),
    ).withColumn("last_ms", F.max("tms").over(wu))
    users = (
        ev2.groupBy("user_id")
        .agg(
            F.datediff(
                F.max("tss").cast("date"), F.min("tss").cast("date")
            ).alias("t"),
            (
                1
                - F.max(
                    F.when(
                        (F.col("event_type") == "purchase")
                        & (F.col("tms") >= F.col("last_ms") - 259200000),
                        1,
                    ).otherwise(0)
                )
            ).alias("death"),
        )
        .select((F.col("user_id") % 4).cast("bigint").alias("cohort"), "t", "death")
    )
    counts = users.groupBy("cohort", "t").agg(
        F.sum("death").cast("bigint").alias("d"),
        F.count(F.lit(1)).alias("m"),
    )
    tot = users.groupBy("cohort").agg(F.count(F.lit(1)).alias("n"))
    w_prev = (
        Window.partitionBy("cohort")
        .orderBy("t")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    risk = counts.join(tot, "cohort").select(
        "cohort",
        "t",
        "d",
        (F.col("n") - F.coalesce(F.sum("m").over(w_prev), F.lit(0))).alias(
            "n_risk"
        ),
    )
    steps = (
        risk.where((F.col("d") >= 1) & (F.col("t") < _RMST_TAU))
        .withColumn(
            "factor", 1.0 - F.col("d").cast("double") / F.col("n_risk")
        )
    )
    arrs = steps.groupBy("cohort").agg(
        F.array_sort(F.collect_list(F.struct("t", "factor"))).alias("arr")
    )
    exploded = arrs.select("cohort", F.posexplode("arr").alias("pos", "s"), "arr")
    sv = F.aggregate(
        F.transform(
            F.slice(F.col("arr"), F.lit(1), F.col("pos") + 1),
            lambda x: x["factor"],
        ),
        F.lit(1.0),
        lambda acc, x: acc * x,
    )
    t_next = F.coalesce(
        F.element_at(F.col("arr"), (F.col("pos") + 2).cast("int"))["t"],
        F.lit(_RMST_TAU),
    )
    area = (
        exploded.select(
            "cohort",
            F.round(
                sv * (F.least(t_next, F.lit(_RMST_TAU)) - F.col("s.t")), 9
            )
            .cast("decimal(38,9)")
            .alias("rect"),
        )
        .groupBy("cohort")
        .agg(F.sum("rect").alias("a"))
    )
    first_t = steps.groupBy("cohort").agg(F.min("t").alias("t1"))
    return (
        tot.join(area, "cohort", "left")
        .join(first_t, "cohort", "left")
        .select(
            "cohort",
            F.col("n").cast("bigint").alias("n_users"),
            F.round(
                F.coalesce(F.col("a"), F.lit(0)).cast("double")
                + F.least(
                    F.coalesce(F.col("t1"), F.lit(_RMST_TAU)),
                    F.lit(_RMST_TAU),
                ),
                6,
            ).alias("rmst_days"),
        )
        .orderBy("cohort")
    )


# ---------------------------------------------------------------------------
# AIPW doubly-robust ATE (Robins, Rotnitzky & Zhao 1994; the
# augmented estimator that is consistent if EITHER the propensity or
# the outcome model is right). Propensity is saturated on (seg, yr)
# strata — exact e(s) = n1_s/n_s — while the outcome model is
# DELIBERATELY coarser (seg-level means): with both saturated the
# augmentation term is identically zero and AIPW degenerates to
# ipw_ate_estimate (which see). Per-stratum closed form: the unit sum
# Σ T(Y−μ₁)/e collapses to (y1_s − n1_s·μ₁(seg))·n_s/n1_s; everything
# is a double from exact integer counts, per-stratum terms round(9)
# then DECIMAL-summed (order-free). Plan: one join, two aggregates
# (stratum + seg), one broadcast join of 35 strata to 5 seg means.
@_q(
    "aipw_doubly_robust",
    """
    WITH j AS (
      SELECT c.c_mktsegment AS seg, year(o.o_orderdate) AS yr,
             CASE WHEN o.o_orderstatus = 'F' THEN 1 ELSE 0 END AS tr,
             CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                  THEN 1 ELSE 0 END AS y
      FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
    ),
    strata AS (
      SELECT seg, yr,
             CAST(SUM(tr) AS BIGINT) AS n1,
             CAST(SUM(CASE WHEN tr = 1 THEN y ELSE 0 END) AS BIGINT) AS y1,
             CAST(SUM(1 - tr) AS BIGINT) AS n0,
             CAST(SUM(CASE WHEN tr = 0 THEN y ELSE 0 END) AS BIGINT) AS y0
      FROM j GROUP BY seg, yr
    ),
    om AS (
      SELECT seg,
             CAST(SUM(CASE WHEN tr = 1 THEN y ELSE 0 END) AS DOUBLE)
               / SUM(tr) AS mu1,
             CAST(SUM(CASE WHEN tr = 0 THEN y ELSE 0 END) AS DOUBLE)
               / SUM(1 - tr) AS mu0
      FROM j GROUP BY seg
    ),
    supported AS (
      SELECT s.*, o.mu1, o.mu0 FROM strata s JOIN om o USING (seg)
      WHERE s.n1 > 0 AND s.n0 > 0
    ),
    terms AS (
      SELECT n1 + n0 AS ns,
             CAST(round(
               (y1 - n1 * mu1) * (CAST(n1 + n0 AS DOUBLE) / n1)
               + (n1 + n0) * mu1
               - ((y0 - n0 * mu0) * (CAST(n1 + n0 AS DOUBLE) / n0)
                  + (n1 + n0) * mu0), 9) AS DECIMAL(38,9)) AS term
      FROM supported
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_strata,
           CAST(SUM(ns) AS BIGINT) AS n_supported,
           round(CAST(SUM(term) AS DOUBLE) / SUM(ns), 6) AS aipw_ate
    FROM terms
    """,
)
def q_aipw_doubly_robust(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = t(spark, sf_dir, "orders")
    c = t(spark, sf_dir, "customer")
    j = (
        o.join(c, o["o_custkey"] == c["c_custkey"])
        .select(
            F.col("c_mktsegment").alias("seg"),
            F.year("o_orderdate").alias("yr"),
            F.when(F.col("o_orderstatus") == "F", 1).otherwise(0).alias("tr"),
            F.when(F.col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1)
            .otherwise(0)
            .alias("y"),
        )
        .localCheckpoint(eager=True)
    )
    strata = j.groupBy("seg", "yr").agg(
        F.sum("tr").cast("bigint").alias("n1"),
        F.sum(F.when(F.col("tr") == 1, F.col("y")).otherwise(0))
        .cast("bigint")
        .alias("y1"),
        F.sum(1 - F.col("tr")).cast("bigint").alias("n0"),
        F.sum(F.when(F.col("tr") == 0, F.col("y")).otherwise(0))
        .cast("bigint")
        .alias("y0"),
    )
    om = j.groupBy("seg").agg(
        (
            F.sum(F.when(F.col("tr") == 1, F.col("y")).otherwise(0)).cast(
                "double"
            )
            / F.sum("tr")
        ).alias("mu1"),
        (
            F.sum(F.when(F.col("tr") == 0, F.col("y")).otherwise(0)).cast(
                "double"
            )
            / F.sum(1 - F.col("tr"))
        ).alias("mu0"),
    )
    sup = strata.join(F.broadcast(om), "seg").where(
        (F.col("n1") > 0) & (F.col("n0") > 0)
    )
    ns = F.col("n1") + F.col("n0")
    term = F.round(
        (F.col("y1") - F.col("n1") * F.col("mu1"))
        * (ns.cast("double") / F.col("n1"))
        + ns * F.col("mu1")
        - (
            (F.col("y0") - F.col("n0") * F.col("mu0"))
            * (ns.cast("double") / F.col("n0"))
            + ns * F.col("mu0")
        ),
        9,
    ).cast("decimal(38,9)")
    return sup.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_strata"),
        F.sum(ns).cast("bigint").alias("n_supported"),
        F.round(F.sum(term).cast("double") / F.sum(ns), 6).alias("aipw_ate"),
    )


# ---------------------------------------------------------------------------
# Nearest-neighbor covariate matching ATT (Abadie & Imbens 2006):
# each treated order matches the control order with the CLOSEST
# totalprice inside its (seg, yr) stratum (1-NN with replacement).
# The match is the sorted-neighbor identity: in (cents, orderkey)
# order the nearest control is either the last preceding or first
# following control row — two IGNORE NULLS window scans per stratum,
# never a pair join. Distances are exact cent integers; prev wins
# ties. ATT = Σ(y_t − y_match)/n_matched with an exact integer
# numerator. Windows are stratum-partitioned (35 cells), the same
# partitioning discipline as brown_forsythe's median ranks.
@_q(
    "propensity_nn_matching",
    """
    WITH j AS (
      SELECT c.c_mktsegment AS seg, year(o.o_orderdate) AS yr,
             o.o_orderkey AS k,
             CAST(round(o.o_totalprice * 100) AS BIGINT) AS cents,
             CASE WHEN o.o_orderstatus = 'F' THEN 1 ELSE 0 END AS tr,
             CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                  THEN 1 ELSE 0 END AS y
      FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
    ),
    nb AS (
      SELECT seg, yr, k, cents, tr, y,
             last_value(CASE WHEN tr = 0 THEN cents END IGNORE NULLS)
               OVER (PARTITION BY seg, yr ORDER BY cents, k
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS pc,
             last_value(CASE WHEN tr = 0 THEN y END IGNORE NULLS)
               OVER (PARTITION BY seg, yr ORDER BY cents, k
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS py,
             first_value(CASE WHEN tr = 0 THEN cents END IGNORE NULLS)
               OVER (PARTITION BY seg, yr ORDER BY cents, k
                     ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING)
               AS nc,
             first_value(CASE WHEN tr = 0 THEN y END IGNORE NULLS)
               OVER (PARTITION BY seg, yr ORDER BY cents, k
                     ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING)
               AS ny
      FROM j
    ),
    matched AS (
      SELECT cents, y,
             CASE WHEN pc IS NOT NULL
                       AND (nc IS NULL OR cents - pc <= nc - cents)
                  THEN py ELSE ny END AS my,
             CASE WHEN pc IS NOT NULL
                       AND (nc IS NULL OR cents - pc <= nc - cents)
                  THEN cents - pc ELSE nc - cents END AS dist
      FROM nb WHERE tr = 1 AND (pc IS NOT NULL OR nc IS NOT NULL)
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_matched,
           round(CAST(SUM(y - my) AS DOUBLE) / COUNT(*), 6) AS att,
           round(CAST(SUM(dist) AS DOUBLE) / COUNT(*) / 100, 6)
             AS mean_match_dist
    FROM matched
    """,
)
def q_propensity_nn_matching(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    o = t(spark, sf_dir, "orders")
    c = t(spark, sf_dir, "customer")
    j = o.join(c, o["o_custkey"] == c["c_custkey"]).select(
        F.col("c_mktsegment").alias("seg"),
        F.year("o_orderdate").alias("yr"),
        F.col("o_orderkey").alias("k"),
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("cents"),
        F.when(F.col("o_orderstatus") == "F", 1).otherwise(0).alias("tr"),
        F.when(F.col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1)
        .otherwise(0)
        .alias("y"),
    )
    # BOTH neighbor scans must be RUNNING (expanding-prefix) frames:
    # a (1 FOLLOWING, UNBOUNDED FOLLOWING) frame is a shrinking frame
    # that Spark's WindowExec re-evaluates per row — O(n²) per stratum
    # (caught by the r14 sf0.01→0.1 probe: 0.7 s → 9.0 s, 12.4×). The
    # "first control strictly after me in (cents, k) order" is exactly
    # the "last control strictly before me" under the REVERSED sort,
    # so both sides become incrementally-maintained prefix frames
    # (probe after re-plan: 1.0×).
    ob = W.partitionBy("seg", "yr").orderBy("cents", "k")
    wp = ob.rowsBetween(W.unboundedPreceding, -1)
    obr = W.partitionBy("seg", "yr").orderBy(F.desc("cents"), F.desc("k"))
    wn = obr.rowsBetween(W.unboundedPreceding, -1)
    ctrl_c = F.when(F.col("tr") == 0, F.col("cents"))
    ctrl_y = F.when(F.col("tr") == 0, F.col("y"))
    nb = j.select(
        "cents",
        "tr",
        "y",
        F.last(ctrl_c, ignorenulls=True).over(wp).alias("pc"),
        F.last(ctrl_y, ignorenulls=True).over(wp).alias("py"),
        F.last(ctrl_c, ignorenulls=True).over(wn).alias("nc"),
        F.last(ctrl_y, ignorenulls=True).over(wn).alias("ny"),
    )
    use_prev = F.col("pc").isNotNull() & (
        F.col("nc").isNull()
        | (F.col("cents") - F.col("pc") <= F.col("nc") - F.col("cents"))
    )
    matched = nb.where(
        (F.col("tr") == 1)
        & (F.col("pc").isNotNull() | F.col("nc").isNotNull())
    ).select(
        "y",
        F.when(use_prev, F.col("py")).otherwise(F.col("ny")).alias("my"),
        F.when(use_prev, F.col("cents") - F.col("pc"))
        .otherwise(F.col("nc") - F.col("cents"))
        .alias("dist"),
    )
    return matched.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_matched"),
        F.round(
            F.sum(F.col("y") - F.col("my")).cast("double")
            / F.count(F.lit(1)),
            6,
        ).alias("att"),
        F.round(
            F.sum("dist").cast("double") / F.count(F.lit(1)) / 100, 6
        ).alias("mean_match_dist"),
    )
