"""Distribution-comparison statistics: two-sample KS, Mann-Whitney U
(tie-corrected), one-way ANOVA, and a sort-based 2-D skyline.

Determinism strategy (the repo-wide seam): every statistic is pushed
to EXACT INTEGER or DECIMAL arithmetic for the order-sensitive part
(cumulative counts, rank sums, sums of squares), with one final float
expression whose operation sequence is identical in both engines —
IEEE /, *, sqrt are exactly rounded, so the doubles match bit-for-bit.

Scale notes (100 TB):
- KS and MWU reduce the value stream to per-distinct-value counts
  first (one shuffle), then run a window over the distinct values —
  cardinality of the window input is |distinct values|, not |rows|.
- ANOVA is a pure two-level aggregate: per-group partial sums combine
  map-side; nothing but (group, sum, sumsq, n) ever crosses the wire.
- The 2-D skyline uses the sort-based sweep: sort by (x asc, y desc)
  and keep rows whose y strictly exceeds the running max of all
  earlier rows — O(n log n) via Spark's distributed sort + one
  window, versus the naive O(n^2) dominance anti-join.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ._util import t, registry

QUERIES, ORACLES, _q = registry()


# ---------------------------------------------------------------------------
# Two-sample Kolmogorov-Smirnov over order totals: BUILDING vs
# MACHINERY customers. D = max |F1 - F2| is computed on the integer
# lattice: D_num = max |c1*n2 - c2*n1| over cumulative per-value
# counts, divided once at the end.
@_q(
    "ks_two_sample",
    """
    WITH vals AS (
      SELECT o.o_totalprice AS v, c.c_mktsegment AS seg
      FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
      WHERE c.c_mktsegment IN ('BUILDING', 'MACHINERY')
    ), per_v AS (
      SELECT v,
             COUNT(*) FILTER (seg = 'BUILDING') AS c1,
             COUNT(*) FILTER (seg = 'MACHINERY') AS c2
      FROM vals GROUP BY 1
    ), cum AS (
      SELECT v,
             SUM(c1) OVER (ORDER BY v) AS f1,
             SUM(c2) OVER (ORDER BY v) AS f2,
             SUM(c1) OVER () AS n1,
             SUM(c2) OVER () AS n2
      FROM per_v
    ), scored AS (
      SELECT v, n1, n2, abs(f1 * n2 - f2 * n1) AS d_num FROM cum
    )
    SELECT CAST(n1 AS BIGINT) AS n1, CAST(n2 AS BIGINT) AS n2,
           CAST(max(d_num) AS BIGINT) AS d_num,
           round(CAST(max(d_num) AS DOUBLE) / (n1 * n2), 9) AS d_stat,
           min(v) FILTER (d_num = (SELECT max(d_num) FROM scored)) AS d_at_value
    FROM scored GROUP BY n1, n2
    """,
)
def q_ks_two_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = t(spark, sf_dir, "orders")
    cust = t(spark, sf_dir, "customer").where(
        F.col("c_mktsegment").isin("BUILDING", "MACHINERY")
    )
    vals = orders.join(
        cust, orders.o_custkey == cust.c_custkey
    ).select(F.col("o_totalprice").alias("v"), F.col("c_mktsegment").alias("seg"))
    per_v = vals.groupBy("v").agg(
        F.sum(F.when(F.col("seg") == "BUILDING", 1).otherwise(0)).alias("c1"),
        F.sum(F.when(F.col("seg") == "MACHINERY", 1).otherwise(0)).alias("c2"),
    )
    # both CDFs in ONE distributed prefix scan over the per-value
    # frame (integer lattice -> regrouped addition is exact); totals
    # and the argmax row come from broadcast scalar aggregates — no
    # single-partition window anywhere (round-7 de-globalization)
    from ..operators.quantiles import with_global_cumsum

    scanned = with_global_cumsum(per_v, ["v"], ["c1", "c2"], out_prefix="f_")
    tot = per_v.agg(F.sum("c1").alias("n1"), F.sum("c2").alias("n2"))
    scored = scanned.crossJoin(F.broadcast(tot)).select(
        "v",
        "n1",
        "n2",
        F.abs(
            F.col("f_c1") * F.col("n2") - F.col("f_c2") * F.col("n1")
        ).alias("d_num"),
    )
    mxdf = scored.agg(F.max("d_num").alias("mx"))
    return (
        scored.crossJoin(F.broadcast(mxdf))
        .groupBy("n1", "n2")
        .agg(
            F.max("d_num").alias("d_num"),
            F.round(
                F.max("d_num").cast("double") / (F.col("n1") * F.col("n2")), 9
            ).alias("d_stat"),
            F.min(F.when(F.col("d_num") == F.col("mx"), F.col("v"))).alias(
                "d_at_value"
            ),
        )
        .select("n1", "n2", "d_num", "d_stat", "d_at_value")
    )


# ---------------------------------------------------------------------------
# Mann-Whitney U (returnflag A vs R over l_quantity, heavy ties):
# rank sums on the doubled-integer lattice (average tie rank has
# denominator 2, so 2*R1 and 2*U1 are exact integers); z uses the
# tie-corrected variance. sqrt/division are single exactly-rounded
# IEEE ops over exact integers -> bit-equal across engines.
@_q(
    "mann_whitney_u",
    """
    WITH vals AS (
      SELECT l_quantity AS v, l_returnflag AS g FROM lineitem
      WHERE l_returnflag IN ('A', 'R')
    ), per_v AS (
      SELECT v,
             COUNT(*) FILTER (g = 'A') AS c1,
             COUNT(*) FILTER (g = 'R') AS c2
      FROM vals GROUP BY 1
    ), cum AS (
      SELECT c1, c2, c1 + c2 AS c,
             COALESCE(SUM(c1 + c2) OVER (ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS before
      FROM per_v
    ), agg AS (
      SELECT SUM(c1) AS n1, SUM(c2) AS n2,
             SUM(c1 * (2 * before + c + 1)) AS r1_x2,
             SUM(c * c * c - c) AS tie_sum
      FROM cum
    )
    SELECT CAST(n1 AS BIGINT) AS n1, CAST(n2 AS BIGINT) AS n2,
           CAST(r1_x2 - n1 * (n1 + 1) AS BIGINT) AS u1_x2,
           round((CAST(r1_x2 - n1 * (n1 + 1) AS DOUBLE) / 2 - CAST(n1 * n2 AS DOUBLE) / 2)
             / sqrt(CAST(n1 AS DOUBLE) * n2 / 12
                    * ((n1 + n2 + 1) - CAST(tie_sum AS DOUBLE)
                       / ((n1 + n2) * (n1 + n2 - 1)))), 9) AS z_score
    FROM agg
    """,
)
def q_mann_whitney_u(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem").where(F.col("l_returnflag").isin("A", "R"))
    per_v = li.groupBy(F.col("l_quantity").alias("v")).agg(
        F.sum(F.when(F.col("l_returnflag") == "A", 1).otherwise(0)).alias("c1"),
        F.sum(F.when(F.col("l_returnflag") == "R", 1).otherwise(0)).alias("c2"),
    )
    # rank offsets via the distributed prefix scan (exact integer
    # lattice): before = inclusive cumsum - own count
    from ..operators.quantiles import with_global_cumsum

    withc = per_v.select(
        "v", "c1", "c2", (F.col("c1") + F.col("c2")).alias("c")
    )
    cum = with_global_cumsum(withc, ["v"], ["c"]).select(
        "c1", "c2", "c", (F.col("cum_c") - F.col("c")).alias("before")
    )
    agg = cum.agg(
        F.sum("c1").alias("n1"),
        F.sum("c2").alias("n2"),
        F.sum(
            F.col("c1") * (2 * F.col("before") + F.col("c") + 1)
        ).alias("r1_x2"),
        F.sum(F.col("c") * F.col("c") * F.col("c") - F.col("c")).alias(
            "tie_sum"
        ),
    )
    n1, n2 = F.col("n1"), F.col("n2")
    u1_x2 = F.col("r1_x2") - n1 * (n1 + 1)
    n = n1 + n2
    z = (
        (u1_x2.cast("double") / 2 - (n1 * n2).cast("double") / 2)
        / F.sqrt(
            n1.cast("double") * n2 / 12
            * ((n + 1) - F.col("tie_sum").cast("double") / (n * (n - 1)))
        )
    )
    return agg.select(
        n1.cast("bigint").alias("n1"),
        n2.cast("bigint").alias("n2"),
        u1_x2.cast("bigint").alias("u1_x2"),
        F.round(z, 9).alias("z_score"),
    )


# ---------------------------------------------------------------------------
# Kruskal-Wallis H (rank one-way ANOVA; Kruskal & Wallis JASA 1952):
# l_quantity across the three return flags. Same doubled-integer rank
# lattice as mann_whitney_u — the 50-value quantity spine gives per-
# value group counts, the distributed prefix scan gives rank offsets,
# and the doubled rank-sums R2_g stay exact BIGINTs. The statistic is
# assembled as ONE rational: num = sum_g R2_g^2 * (P/n_g) with
# P = nA*nN*nR, all in DECIMAL(38,0), so the only float ops are the
# final fixed-order divisions/subtraction — bit-equal across engines.
# Tie correction uses the exact sum of (c^3 - c) over the spine.
@_q(
    "kruskal_wallis_test",
    """
    WITH per_v AS (
      SELECT l_quantity AS v,
             COUNT(*) FILTER (l_returnflag = 'A') AS ca,
             COUNT(*) FILTER (l_returnflag = 'N') AS cn,
             COUNT(*) FILTER (l_returnflag = 'R') AS cr
      FROM lineitem GROUP BY 1
    ), cum AS (
      SELECT ca, cn, cr, ca + cn + cr AS c,
             COALESCE(SUM(ca + cn + cr) OVER (ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS before
      FROM per_v
    ), agg AS (
      SELECT CAST(SUM(ca) AS DECIMAL(38,0)) AS na,
             CAST(SUM(cn) AS DECIMAL(38,0)) AS nn,
             CAST(SUM(cr) AS DECIMAL(38,0)) AS nr,
             CAST(SUM(ca * (2 * before + c + 1)) AS DECIMAL(38,0)) AS r2a,
             CAST(SUM(cn * (2 * before + c + 1)) AS DECIMAL(38,0)) AS r2n,
             CAST(SUM(cr * (2 * before + c + 1)) AS DECIMAL(38,0)) AS r2r,
             CAST(SUM(c * c * c - c) AS DECIMAL(38,0)) AS tie_sum
      FROM cum
    )
    SELECT CAST(na AS BIGINT) AS n_a, CAST(nn AS BIGINT) AS n_n,
           CAST(nr AS BIGINT) AS n_r,
           round(
             (3.0 * CAST(r2a * r2a * nn * nr + r2n * r2n * na * nr
                         + r2r * r2r * na * nn AS DOUBLE)
                  / CAST(na * nn * nr * (na + nn + nr)
                         * (na + nn + nr + 1) AS DOUBLE)
              - 3.0 * CAST(na + nn + nr + 1 AS DOUBLE))
             / (1.0 - CAST(tie_sum AS DOUBLE)
                    / CAST((na + nn + nr) * (na + nn + nr) * (na + nn + nr)
                           - (na + nn + nr) AS DOUBLE)),
             9) AS h_statistic
    FROM agg
    """,
)
def q_kruskal_wallis_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.quantiles import with_global_cumsum

    li = t(spark, sf_dir, "lineitem")
    per_v = li.groupBy(F.col("l_quantity").alias("v")).agg(
        F.sum(F.when(F.col("l_returnflag") == "A", 1).otherwise(0)).alias("ca"),
        F.sum(F.when(F.col("l_returnflag") == "N", 1).otherwise(0)).alias("cn"),
        F.sum(F.when(F.col("l_returnflag") == "R", 1).otherwise(0)).alias("cr"),
    )
    withc = per_v.select(
        "v", "ca", "cn", "cr",
        (F.col("ca") + F.col("cn") + F.col("cr")).alias("c"),
    )
    cum = with_global_cumsum(withc, ["v"], ["c"]).select(
        "ca", "cn", "cr", "c", (F.col("cum_c") - F.col("c")).alias("before")
    )
    dec = lambda col: col.cast("decimal(38,0)")
    rterm = 2 * F.col("before") + F.col("c") + 1
    agg = cum.agg(
        dec(F.sum("ca")).alias("na"),
        dec(F.sum("cn")).alias("nn"),
        dec(F.sum("cr")).alias("nr"),
        dec(F.sum(F.col("ca") * rterm)).alias("r2a"),
        dec(F.sum(F.col("cn") * rterm)).alias("r2n"),
        dec(F.sum(F.col("cr") * rterm)).alias("r2r"),
        dec(F.sum(F.col("c") * F.col("c") * F.col("c") - F.col("c"))).alias(
            "tie_sum"
        ),
    )
    na, nn, nr = F.col("na"), F.col("nn"), F.col("nr")
    ntot = na + nn + nr
    num = (
        F.col("r2a") * F.col("r2a") * nn * nr
        + F.col("r2n") * F.col("r2n") * na * nr
        + F.col("r2r") * F.col("r2r") * na * nn
    )
    den = na * nn * nr * ntot * (ntot + 1)
    h_unc = (
        F.lit(3.0) * num.cast("double") / den.cast("double")
        - F.lit(3.0) * (ntot + 1).cast("double")
    )
    corr = F.lit(1.0) - F.col("tie_sum").cast("double") / (
        ntot * ntot * ntot - ntot
    ).cast("double")
    return agg.select(
        na.cast("bigint").alias("n_a"),
        nn.cast("bigint").alias("n_n"),
        nr.cast("bigint").alias("n_r"),
        F.round(h_unc / corr, 9).alias("h_statistic"),
    )


# ---------------------------------------------------------------------------
# One-way ANOVA: o_totalprice across the five order priorities. Sums
# and sums of squares in exact DECIMAL (2dp inputs -> 4dp squares),
# combined map-side; F assembled from exact partials in one float
# expression.
@_q(
    "anova_f_oneway",
    """
    WITH g AS (
      SELECT o_orderpriority AS grp,
             COUNT(*) AS n,
             SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS s,
             SUM(CAST(o_totalprice AS DECIMAL(18,2))
                 * CAST(o_totalprice AS DECIMAL(18,2))) AS ss
      FROM orders GROUP BY 1
    ), tot AS (
      SELECT COUNT(*) AS k, SUM(n) AS n_tot, SUM(s) AS s_tot,
             SUM(ss) AS ss_tot,
             -- ordered fold: k is tiny, but double summation order must
             -- still be pinned for the cross-engine bit-exact contract
             SUM(CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / n ORDER BY grp) AS between_raw
      FROM g
    )
    SELECT CAST(k AS BIGINT) AS k, CAST(n_tot AS BIGINT) AS n_tot,
           round((between_raw - CAST(s_tot AS DOUBLE) * CAST(s_tot AS DOUBLE) / n_tot)
                   / (k - 1)
                 / ((CAST(ss_tot AS DOUBLE) - between_raw) / (n_tot - k)), 9)
             AS f_stat
    FROM tot
    """,
)
def q_anova_f_oneway(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = t(spark, sf_dir, "orders")
    d = F.col("o_totalprice").cast("decimal(18,2)")
    g = orders.groupBy(F.col("o_orderpriority").alias("grp")).agg(
        F.count("*").alias("n"),
        F.sum(d).alias("s"),
        F.sum(d * d).alias("ss"),
    )
    # Deterministic left fold in grp order (sort_array on the struct's
    # leading field): summation order of the double terms is pinned so
    # the result is bit-equal to the oracle's `SUM(... ORDER BY grp)`.
    term = (
        F.col("s").cast("double") * F.col("s").cast("double") / F.col("n")
    )
    tot = g.agg(
        F.count("*").alias("k"),
        F.sum("n").alias("n_tot"),
        F.sum("s").alias("s_tot"),
        F.sum("ss").alias("ss_tot"),
        F.aggregate(
            F.sort_array(F.collect_list(F.struct(F.col("grp"), term.alias("term")))),
            F.lit(0.0),
            lambda acc, x: acc + x["term"],
        ).alias("between_raw"),
    )
    k, n_tot = F.col("k"), F.col("n_tot")
    s_tot = F.col("s_tot").cast("double")
    ssb = F.col("between_raw") - s_tot * s_tot / n_tot
    ssw = F.col("ss_tot").cast("double") - F.col("between_raw")
    return tot.select(
        k.cast("bigint").alias("k"),
        n_tot.cast("bigint").alias("n_tot"),
        F.round((ssb / (k - 1)) / (ssw / (n_tot - k)), 9).alias("f_stat"),
    )


# ---------------------------------------------------------------------------
# 2-D skyline (Pareto frontier) of parts: minimize retail price,
# maximize size. Distinct (price, size) pairs sorted by (price asc,
# size desc); a pair survives iff its size strictly exceeds every
# earlier pair's — the running max over the strict predecessor frame.
@_q(
    "skyline_parts",
    """
    WITH pairs AS (
      SELECT p_retailprice AS price, p_size AS psize,
             min(p_partkey) AS first_part, COUNT(*) AS n_parts
      FROM part GROUP BY 1, 2
    ), swept AS (
      SELECT *, max(psize) OVER (ORDER BY price ASC, psize DESC
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_max
      FROM pairs
    )
    SELECT price, psize, first_part, n_parts
    FROM swept WHERE prev_max IS NULL OR psize > prev_max
    """,
)
def q_skyline_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = t(spark, sf_dir, "part")
    pairs = part.groupBy(
        F.col("p_retailprice").alias("price"), F.col("p_size").alias("psize")
    ).agg(
        F.min("p_partkey").alias("first_part"), F.count("*").alias("n_parts")
    )
    w = Window.orderBy(F.asc("price"), F.desc("psize")).rowsBetween(
        Window.unboundedPreceding, -1
    )
    swept = pairs.withColumn("prev_max", F.max("psize").over(w))
    return swept.where(
        F.col("prev_max").isNull() | (F.col("psize") > F.col("prev_max"))
    ).select("price", "psize", "first_part", "n_parts")


# ---------------------------------------------------------------------------
# Welch's unequal-variance t-test (same two segments as the KS query,
# so the two tests cross-validate each other's data path). Sample
# variances assemble from exact DECIMAL sums; t and the
# Welch-Satterthwaite df are one fixed-order float expression each.
@_q(
    "welch_t_test",
    """
    WITH g AS (
      SELECT c.c_mktsegment AS seg, COUNT(*) AS n,
             SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) AS s,
             SUM(CAST(o.o_totalprice AS DECIMAL(18,2))
                 * CAST(o.o_totalprice AS DECIMAL(18,2))) AS ss
      FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
      WHERE c.c_mktsegment IN ('BUILDING', 'MACHINERY')
      GROUP BY 1
    ), w AS (
      SELECT
        max(CASE WHEN seg = 'BUILDING' THEN n END) AS n1,
        max(CASE WHEN seg = 'MACHINERY' THEN n END) AS n2,
        max(CASE WHEN seg = 'BUILDING' THEN CAST(s AS DOUBLE) END) AS s1,
        max(CASE WHEN seg = 'MACHINERY' THEN CAST(s AS DOUBLE) END) AS s2,
        max(CASE WHEN seg = 'BUILDING' THEN CAST(ss AS DOUBLE) END) AS ss1,
        max(CASE WHEN seg = 'MACHINERY' THEN CAST(ss AS DOUBLE) END) AS ss2
      FROM g
    ), v AS (
      SELECT n1, n2,
             (ss1 - s1 * s1 / n1) / (n1 - 1) / n1 AS se1,
             (ss2 - s2 * s2 / n2) / (n2 - 1) / n2 AS se2,
             s1 / n1 - s2 / n2 AS mdiff
      FROM w
    )
    SELECT CAST(n1 AS BIGINT) AS n1, CAST(n2 AS BIGINT) AS n2,
           round(mdiff / sqrt(se1 + se2), 6) AS t_stat,
           round((se1 + se2) * (se1 + se2)
                 / (se1 * se1 / (n1 - 1) + se2 * se2 / (n2 - 1)), 3) AS df
    FROM v
    """,
)
def q_welch_t_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = t(spark, sf_dir, "orders")
    cust = t(spark, sf_dir, "customer").where(
        F.col("c_mktsegment").isin("BUILDING", "MACHINERY")
    )
    d = F.col("o_totalprice").cast("decimal(18,2)")
    g = (
        orders.join(cust, orders.o_custkey == cust.c_custkey)
        .groupBy(F.col("c_mktsegment").alias("seg"))
        .agg(
            F.count("*").alias("n"),
            F.sum(d).alias("s"),
            F.sum(d * d).alias("ss"),
        )
    )
    def pick(col, seg):
        return F.max(F.when(F.col("seg") == seg, F.col(col)))
    w = g.agg(
        pick("n", "BUILDING").alias("n1"),
        pick("n", "MACHINERY").alias("n2"),
        pick("s", "BUILDING").cast("double").alias("s1"),
        pick("s", "MACHINERY").cast("double").alias("s2"),
        pick("ss", "BUILDING").cast("double").alias("ss1"),
        pick("ss", "MACHINERY").cast("double").alias("ss2"),
    )
    n1, n2 = F.col("n1"), F.col("n2")
    se1 = (F.col("ss1") - F.col("s1") * F.col("s1") / n1) / (n1 - 1) / n1
    se2 = (F.col("ss2") - F.col("s2") * F.col("s2") / n2) / (n2 - 1) / n2
    mdiff = F.col("s1") / n1 - F.col("s2") / n2
    v = w.select(
        n1, n2, se1.alias("se1"), se2.alias("se2"), mdiff.alias("mdiff")
    )
    se1c, se2c = F.col("se1"), F.col("se2")
    return v.select(
        n1.cast("bigint").alias("n1"),
        n2.cast("bigint").alias("n2"),
        F.round(F.col("mdiff") / F.sqrt(se1c + se2c), 6).alias("t_stat"),
        F.round(
            (se1c + se2c) * (se1c + se2c)
            / (se1c * se1c / (n1 - 1) + se2c * se2c / (n2 - 1)),
            3,
        ).alias("df"),
    )


# ---------------------------------------------------------------------------
# Jensen-Shannon divergence between two sources' word distributions
# (the mixing/curation statistic: how different is src1's unigram mix
# from src2's?). Per-word KL terms have exact-integer log arguments
# (2*c1*n2 / (c1*n2 + c2*n1)); the vocab sum is an ORDERED fold.
@_q(
    "js_divergence_sources",
    r"""
    WITH words AS (
      SELECT source,
             list_filter(regexp_split_to_array(
               trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' '),
               x -> x <> '') AS w
      FROM documents WHERE source IN ('src1', 'src2')
    ), cnt AS (
      SELECT source, word, COUNT(*) AS c
      FROM words, LATERAL unnest(w) AS u(word) GROUP BY 1, 2
    ), piv AS (
      SELECT word,
             COALESCE(max(CASE WHEN source = 'src1' THEN c END), 0) AS c1,
             COALESCE(max(CASE WHEN source = 'src2' THEN c END), 0) AS c2
      FROM cnt GROUP BY 1
    ), tot AS (
      SELECT SUM(c1) AS n1, SUM(c2) AS n2 FROM piv
    ), terms AS (
      SELECT word,
             CASE WHEN c1 > 0 THEN (CAST(c1 AS DOUBLE) / n1)
                  * ln(CAST(2 * c1 * n2 AS DOUBLE) / (c1 * n2 + c2 * n1))
                  ELSE 0.0 END
             + CASE WHEN c2 > 0 THEN (CAST(c2 AS DOUBLE) / n2)
                  * ln(CAST(2 * c2 * n1 AS DOUBLE) / (c1 * n2 + c2 * n1))
                  ELSE 0.0 END AS term
      FROM piv CROSS JOIN tot
    )
    SELECT COUNT(*) AS n_vocab,
           round(0.5 * list_sum(list(term ORDER BY word)), 6) AS js_div
    FROM terms
    """,
)
def q_js_divergence_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.text import normalize_text, word_tokens

    docs = t(spark, sf_dir, "documents").where(
        F.col("source").isin("src1", "src2")
    )
    cnt = (
        docs.select("source", F.explode(word_tokens(normalize_text(F.col("text")))).alias("word"))
        .groupBy("source", "word")
        .agg(F.count("*").alias("c"))
    )
    piv = cnt.groupBy("word").agg(
        F.coalesce(
            F.max(F.when(F.col("source") == "src1", F.col("c"))), F.lit(0)
        ).alias("c1"),
        F.coalesce(
            F.max(F.when(F.col("source") == "src2", F.col("c"))), F.lit(0)
        ).alias("c2"),
    )
    tot = piv.agg(F.sum("c1").alias("n1"), F.sum("c2").alias("n2"))
    c1, c2, n1, n2 = F.col("c1"), F.col("c2"), F.col("n1"), F.col("n2")
    term = F.when(
        c1 > 0,
        (c1.cast("double") / n1)
        * F.log((2 * c1 * n2).cast("double") / (c1 * n2 + c2 * n1)),
    ).otherwise(F.lit(0.0)) + F.when(
        c2 > 0,
        (c2.cast("double") / n2)
        * F.log((2 * c2 * n1).cast("double") / (c1 * n2 + c2 * n1)),
    ).otherwise(F.lit(0.0))
    terms = piv.crossJoin(F.broadcast(tot)).select("word", term.alias("term"))
    return terms.agg(
        F.count("*").alias("n_vocab"),
        F.round(
            0.5
            * F.aggregate(
                F.sort_array(F.collect_list(F.struct("word", "term"))),
                F.lit(0.0),
                lambda acc, x: acc + x["term"],
            ),
            6,
        ).alias("js_div"),
    )


# ---------------------------------------------------------------------------
# Poisson bootstrap CI for the mean order value — THE distributed
# bootstrap: instead of resampling n rows WITH replacement (which
# needs global coordination), each row independently draws a
# Poisson(1) count per replicate. Counts come from an md5-derived
# uniform inverted through hard-coded cumulative Poisson thresholds,
# so both engines draw IDENTICAL resamples; replicate means assemble
# from exact DECIMAL sums. 32 replicates; CI = 2nd/31st order
# statistics (~94% coverage). One pass over the data produces all
# replicates — the shuffle carries 32 partial sums, nothing else.
_BOOT_B = 32
# cumulative Poisson(1) CDF thresholds, full double precision
_POIS_CDF = (
    0.36787944117144233,
    0.7357588823428847,
    0.9196986029286058,
    0.9810118431238462,
    0.9963401531726563,
    0.9994058151824183,
    0.9999167588507119,
)


def _sql_poisson_count(u: str) -> str:
    branches = " ".join(
        f"WHEN {u} < {c!r} THEN {i}" for i, c in enumerate(_POIS_CDF)
    )
    return f"CASE {branches} ELSE 7 END"


def _sql_bootstrap() -> str:
    u = (
        "(CAST(('0x' || substring(md5(CAST(o_orderkey AS VARCHAR) || '-' ||"
        " CAST(b AS VARCHAR)), 1, 8)) AS BIGINT) / 4294967296.0)"
    )
    return f"""
    WITH reps AS (
      SELECT b, {_sql_poisson_count(u)} AS c,
             CAST(o_totalprice AS DECIMAL(18,2)) AS x
      FROM orders, LATERAL unnest(generate_series(0, {_BOOT_B - 1})) AS t(b)
    ), means AS (
      SELECT b, CAST(SUM(c * x) AS DOUBLE) / SUM(c) AS m
      FROM reps GROUP BY b
    ), ranked AS (
      SELECT m, row_number() OVER (ORDER BY m) AS rn FROM means
    ), pt AS (
      SELECT CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
               / COUNT(*) AS est
      FROM orders
    )
    SELECT round(pt.est, 6) AS point_mean,
           round((SELECT m FROM ranked WHERE rn = 2), 6) AS ci_lo,
           round((SELECT m FROM ranked WHERE rn = {_BOOT_B - 1}), 6) AS ci_hi,
           CAST({_BOOT_B} AS BIGINT) AS n_replicates
    FROM pt
    """


@_q("poisson_bootstrap_ci", _sql_bootstrap())
def q_poisson_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = t(spark, sf_dir, "orders")
    u = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat_ws(
                        "-",
                        F.col("o_orderkey").cast("string"),
                        F.col("b").cast("string"),
                    )
                ),
                1,
                8,
            ),
            16,
            10,
        ).cast("bigint")
        / F.lit(4294967296.0)
    )
    cnt = F.lit(7)
    for i in range(len(_POIS_CDF) - 1, -1, -1):
        cnt = F.when(u < _POIS_CDF[i], i).otherwise(cnt)
    reps = (
        orders.select(
            "o_orderkey",
            F.col("o_totalprice").cast("decimal(18,2)").alias("x"),
            F.explode(F.sequence(F.lit(0), F.lit(_BOOT_B - 1))).alias("b"),
        )
        .select("b", cnt.alias("c"), "x")
    )
    means = reps.groupBy("b").agg(
        (
            F.sum(F.col("c") * F.col("x")).cast("double") / F.sum("c")
        ).alias("m")
    )
    ranked = means.withColumn(
        "rn", F.row_number().over(Window.orderBy("m"))
    )
    lo = ranked.where(F.col("rn") == 2).select(F.col("m").alias("lo"))
    hi = ranked.where(F.col("rn") == _BOOT_B - 1).select(
        F.col("m").alias("hi")
    )
    pt = orders.agg(
        (
            F.sum(F.col("o_totalprice").cast("decimal(18,2)")).cast("double")
            / F.count("*")
        ).alias("est")
    )
    return (
        pt.crossJoin(F.broadcast(lo))
        .crossJoin(F.broadcast(hi))
        .select(
            F.round("est", 6).alias("point_mean"),
            F.round("lo", 6).alias("ci_lo"),
            F.round("hi", 6).alias("ci_hi"),
            F.lit(_BOOT_B).cast("bigint").alias("n_replicates"),
        )
    )


# ---------------------------------------------------------------------------
# Theil-Sen robust trend: the median of pairwise slopes between
# monthly revenue points — the outlier-resistant regression slope
# (breakdown point 29%) used where OLS (pixel_trend_regression's
# form) is skew-fragile. The month rollup is the only corpus-scale
# aggregation; the O(k^2) pair set lives on the ~80-row month table
# (at any corpus size — months don't grow with rows), so "all pairs"
# here is deliberately bounded by the time grain. Revenues are exact
# decimals; each slope is ONE double division; the median averages
# the same two middle doubles in both engines.
@_q(
    "theil_sen_trend",
    """
    WITH monthly AS (
      SELECT (CAST(year(o_orderdate) AS BIGINT) * 12
              + CAST(month(o_orderdate) AS BIGINT)) AS midx,
             SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS rev
      FROM orders GROUP BY 1
    ), pairs AS (
      SELECT a.midx AS m1, b.midx AS m2,
             CAST(b.rev - a.rev AS DOUBLE) / (b.midx - a.midx) AS slope
      FROM monthly a JOIN monthly b ON b.midx > a.midx
    )
    SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM monthly) AS n_months,
           CAST(COUNT(*) AS BIGINT) AS n_pairs,
           round(quantile_cont(slope, 0.5), 6) AS theil_sen_slope
    FROM pairs
    """,
)
def q_theil_sen_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = t(spark, sf_dir, "orders")
    monthly = orders.groupBy(
        (
            F.year("o_orderdate").cast("bigint") * 12
            + F.month("o_orderdate").cast("bigint")
        ).alias("midx")
    ).agg(F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("rev"))
    a = monthly.select(F.col("midx").alias("m1"), F.col("rev").alias("r1"))
    b = monthly.select(F.col("midx").alias("m2"), F.col("rev").alias("r2"))
    pairs = a.join(F.broadcast(b), F.col("m2") > F.col("m1")).select(
        (
            (F.col("r2") - F.col("r1")).cast("double")
            / (F.col("m2") - F.col("m1"))
        ).alias("slope")
    )
    nm = monthly.agg(F.count(F.lit(1)).alias("n_months"))
    return (
        pairs.agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.round(F.expr("percentile(slope, 0.5D)"), 6).alias(
                "theil_sen_slope"
            ),
        )
        .crossJoin(F.broadcast(nm))
        .select("n_months", "n_pairs", "theil_sen_slope")
    )


# ---------------------------------------------------------------------------
# Trimmed and winsorized means — the robust-center estimators: trim
# drops the tail 5% on each side, winsorize clamps values to the
# 5th/95th percentile instead. Cut points are exact order statistics;
# the retained/clamped values are 2-dp decimals so both means are
# exact sums. The ordering is tiebroken by o_orderkey, so "pr inside
# [f, 1-f]" is equivalent to "global rank inside [r_lo, r_hi]" — the
# Spark side finds the two boundary (v, key) tuples by distributed
# selection (operators/quantiles.py; no single-partition percent_rank
# window over raw orders) and tests rows against them with literal
# lexicographic comparisons. r_lo/r_hi are derived with the SAME IEEE
# double arithmetic the oracle's percent_rank comparison uses
# ((rank-1)/(n-1) vs the 0.05 literal), so boundary ranks where
# f*(n-1) is mathematically-but-not-floating-point integral still
# agree bit-for-bit.
_TRIM_FRAC = 0.05


@_q(
    "trimmed_winsorized_stats",
    f"""
    WITH ranked AS (
      SELECT CAST(o_totalprice AS DECIMAL(18,2)) AS v,
             percent_rank() OVER (ORDER BY o_totalprice, o_orderkey) AS pr
      FROM orders
    ), cuts AS (
      SELECT min(CASE WHEN pr >= {_TRIM_FRAC} THEN v END) AS lo,
             max(CASE WHEN pr <= 1 - {_TRIM_FRAC} THEN v END) AS hi
      FROM ranked
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_total,
           CAST(COUNT(CASE WHEN pr >= {_TRIM_FRAC}
                            AND pr <= 1 - {_TRIM_FRAC} THEN 1 END) AS BIGINT)
             AS n_kept,
           round(CAST(SUM(CASE WHEN pr >= {_TRIM_FRAC} AND pr <= 1 - {_TRIM_FRAC}
                               THEN v END) AS DOUBLE)
                 / COUNT(CASE WHEN pr >= {_TRIM_FRAC}
                              AND pr <= 1 - {_TRIM_FRAC} THEN 1 END), 6)
             AS trimmed_mean,
           round(CAST(SUM(CASE WHEN v < lo THEN lo
                               WHEN v > hi THEN hi ELSE v END) AS DOUBLE)
                 / COUNT(*), 6) AS winsorized_mean
    FROM ranked CROSS JOIN cuts
    """,
)
def q_trimmed_winsorized_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.quantiles import after_cut, exact_order_statistics

    orders = t(spark, sf_dir, "orders")
    base = orders.select(
        F.col("o_totalprice").cast("decimal(18,2)").alias("v"),
        F.col("o_orderkey").alias("k"),
    )

    def _cut_ranks(n: int) -> list[int]:
        # min rank with (rank-1)/(n-1) >= f and max rank with
        # (rank-1)/(n-1) <= 1-f, in the engines' own double arithmetic;
        # scan a ±4 neighborhood of the real-valued boundary (driver
        # scalars, O(1)). n<=1: percent_rank is degenerate (0/0) — both
        # engines keep the single row, so both cuts sit at rank 1.
        if n <= 1:
            return [n, n]
        lo0 = max(1, int(_TRIM_FRAC * (n - 1)) - 3)
        lo = next(
            r for r in range(lo0, n + 1) if (r - 1) / (n - 1) >= _TRIM_FRAC
        )
        hi0 = min(n, int((1 - _TRIM_FRAC) * (n - 1)) + 5)
        hi = next(
            r
            for r in range(hi0, 0, -1)
            if (r - 1) / (n - 1) <= 1 - _TRIM_FRAC
        )
        return [lo, hi]

    cut_lo, cut_hi = exact_order_statistics(
        base, ["v", "k"], positions_fn=_cut_ranks
    )
    cols, asc = ["v", "k"], [True, True]
    before_lo = after_cut(cols, [False, False], cut_lo)  # strictly before
    after_hi = after_cut(cols, asc, cut_hi)
    inside = ~before_lo & ~after_hi
    lo, hi = F.lit(cut_lo[0]), F.lit(cut_hi[0])
    wv = (
        F.when(F.col("v") < lo, lo)
        .when(F.col("v") > hi, hi)
        .otherwise(F.col("v"))
    )
    return base.agg(
        F.count(F.lit(1)).alias("n_total"),
        F.count(F.when(inside, 1)).alias("n_kept"),
        F.round(
            F.sum(F.when(inside, F.col("v"))).cast("double")
            / F.count(F.when(inside, 1)),
            6,
        ).alias("trimmed_mean"),
        F.round(F.sum(wv).cast("double") / F.count(F.lit(1)), 6).alias(
            "winsorized_mean"
        ),
    ).select(
        F.col("n_total").cast("bigint").alias("n_total"),
        F.col("n_kept").cast("bigint").alias("n_kept"),
        "trimmed_mean",
        "winsorized_mean",
    )


# ---------------------------------------------------------------------------
# Spearman rank correlation with tie-corrected average ranks — the
# robust complement of corr_regression's Pearson r. DOUBLED-rank
# lattice (the roc_auc trick): 2·avgrank = 2·prior + cnt + 1 per
# distinct value keeps .5 ranks integer, and multiplying Pearson's
# rank form through by 4 gives
#   ρ = (Σ R2x·R2y − n(n+1)²) / √((ΣR2x² − n(n+1)²)(ΣR2y² − n(n+1)²))
# — every sum an exact integer (DECIMAL(38,0)/HUGEINT: ΣR2² ≈ 4n³),
# one sqrt+division at the end. Plan: per variable, one groupBy to
# distinct values + one windowed cumsum over the value spine, joined
# back — never a global per-row rank window.
@_q(
    "spearman_rank_correlation",
    """
    WITH base AS (
      SELECT CAST(l_quantity AS BIGINT) AS x,
             CAST(round(l_extendedprice * 100) AS BIGINT) AS y
      FROM lineitem
    ),
    rx AS (
      SELECT x, 2 * (SUM(cnt) OVER (ORDER BY x) - cnt) + cnt + 1 AS r2x
      FROM (SELECT x, COUNT(*) AS cnt FROM base GROUP BY x)
    ),
    ry AS (
      SELECT y, 2 * (SUM(cnt) OVER (ORDER BY y) - cnt) + cnt + 1 AS r2y
      FROM (SELECT y, COUNT(*) AS cnt FROM base GROUP BY y)
    ),
    s AS (
      SELECT COUNT(*) AS n,
             SUM(CAST(rx.r2x AS HUGEINT) * ry.r2y) AS sxy,
             SUM(CAST(rx.r2x AS HUGEINT) * rx.r2x) AS sxx,
             SUM(CAST(ry.r2y AS HUGEINT) * ry.r2y) AS syy
      FROM base b JOIN rx ON rx.x = b.x JOIN ry ON ry.y = b.y
    )
    SELECT CAST(n AS BIGINT) AS n,
           CASE WHEN sxx = CAST(n AS HUGEINT) * (n + 1) * (n + 1)
                  OR syy = CAST(n AS HUGEINT) * (n + 1) * (n + 1) THEN NULL
                ELSE round(CAST(sxy - CAST(n AS HUGEINT) * (n + 1) * (n + 1)
                           AS DOUBLE)
                      / sqrt(CAST(sxx - CAST(n AS HUGEINT) * (n + 1) * (n + 1)
                                  AS DOUBLE)
                             * CAST(syy
                                    - CAST(n AS HUGEINT) * (n + 1) * (n + 1)
                                    AS DOUBLE)), 6) END AS spearman_rho
    FROM s
    """,
)
def q_spearman_rank_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem")
    base = li.select(
        F.col("l_quantity").cast("bigint").alias("x"),
        F.round(F.col("l_extendedprice") * 100).cast("bigint").alias("y"),
    )

    def ranks(col: str, out: str) -> DataFrame:
        cnts = base.groupBy(col).agg(F.count(F.lit(1)).alias("cnt"))
        w = Window.orderBy(col).rowsBetween(Window.unboundedPreceding, 0)
        return cnts.select(
            col,
            (
                2 * (F.sum("cnt").over(w) - F.col("cnt"))
                + F.col("cnt")
                + 1
            ).alias(out),
        )

    dec = lambda c: F.col(c).cast("decimal(38,0)")
    s = (
        base.join(ranks("x", "r2x"), "x")
        .join(ranks("y", "r2y"), "y")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(dec("r2x") * F.col("r2y")).alias("sxy"),
            F.sum(dec("r2x") * F.col("r2x")).alias("sxx"),
            F.sum(dec("r2y") * F.col("r2y")).alias("syy"),
        )
    )
    nn = F.col("n").cast("decimal(38,0)") * (F.col("n") + 1) * (F.col("n") + 1)
    # a CONSTANT variable has zero rank variance: rho is undefined —
    # explicit NULL, never an engine-dependent 0/0 artifact
    return s.select(
        F.col("n").cast("bigint").alias("n"),
        F.when(
            (F.col("sxx") == nn) | (F.col("syy") == nn), F.lit(None)
        )
        .otherwise(
            F.round(
                (F.col("sxy") - nn).cast("double")
                / F.sqrt(
                    (F.col("sxx") - nn).cast("double")
                    * (F.col("syy") - nn).cast("double")
                ),
                6,
            )
        )
        .alias("spearman_rho"),
    )


# ---------------------------------------------------------------------------
# 1-D Wasserstein (earth-mover) distance between the 1995-1997 and
# 1998-2001 order-price distributions — the drift metric that, unlike
# KS (sup-norm) or PSI (binned), integrates the FULL CDF gap:
# W1 = ∫|F1 − F2| dv. On dollar-quantized prices the value spine is a
# BOUNDED domain (the time-spine convention), and the integral is a
# sum of exact integers: per spine segment
# |c1·n2 − c2·n1| · Δv / (n1·n2), accumulated in DECIMAL(38,0) with
# ONE division at the end. Plan: one groupBy to (value, side counts),
# one windowed cumsum + lead over the bounded spine.
@_q(
    "wasserstein_price_drift",
    """
    WITH v AS (
      SELECT CAST(round(o_totalprice / 100) AS BIGINT) AS val,
             CASE WHEN year(o_orderdate) <= 1997 THEN 1 ELSE 0 END AS era
      FROM orders
    ),
    g AS (
      SELECT val,
             SUM(era) AS c1, SUM(1 - era) AS c2
      FROM v GROUP BY val
    ),
    c AS (
      SELECT val,
             SUM(c1) OVER (ORDER BY val) AS f1,
             SUM(c2) OVER (ORDER BY val) AS f2,
             lead(val) OVER (ORDER BY val) AS nxt
      FROM g
    ),
    n AS (SELECT SUM(c1) AS n1, SUM(c2) AS n2 FROM g)
    SELECT CAST(n.n1 AS BIGINT) AS n1, CAST(n.n2 AS BIGINT) AS n2,
           round(CAST(SUM(CAST(ABS(c.f1 * n.n2 - c.f2 * n.n1) AS HUGEINT)
                          * (c.nxt - c.val)) AS DOUBLE)
                 / (CAST(n.n1 AS DOUBLE) * n.n2) * 100, 6)
             AS w1_dollars
    FROM c CROSS JOIN n
    WHERE c.nxt IS NOT NULL
    GROUP BY n.n1, n.n2
    """,
)
def q_wasserstein_price_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = t(spark, sf_dir, "orders")
    v = o.select(
        F.round(F.col("o_totalprice") / 100).cast("bigint").alias("val"),
        F.when(F.year("o_orderdate") <= 1997, 1).otherwise(0).alias("era"),
    )
    g = v.groupBy("val").agg(
        F.sum("era").alias("c1"), F.sum(1 - F.col("era")).alias("c2")
    )
    w = Window.orderBy("val").rowsBetween(Window.unboundedPreceding, 0)
    wl = Window.orderBy("val")
    c = g.select(
        "val",
        F.sum("c1").over(w).alias("f1"),
        F.sum("c2").over(w).alias("f2"),
        F.lead("val").over(wl).alias("nxt"),
    ).where(F.col("nxt").isNotNull())
    nrow = g.agg(
        F.sum("c1").alias("n1"), F.sum("c2").alias("n2")
    ).collect()[0]
    n1, n2 = int(nrow["n1"]), int(nrow["n2"])
    term = (
        F.abs(F.col("f1") * n2 - F.col("f2") * n1).cast("decimal(38,0)")
        * (F.col("nxt") - F.col("val"))
    )
    return c.agg(
        F.lit(n1).cast("bigint").alias("n1"),
        F.lit(n2).cast("bigint").alias("n2"),
        F.round(
            F.sum(term).cast("double") / (float(n1) * n2) * 100, 6
        ).alias("w1_dollars"),
    )


# ---------------------------------------------------------------------------
# Cohen's kappa (Cohen 1960) between the two rule classifiers of
# mcnemar_paired_models — chance-corrected AGREEMENT where McNemar
# tests marginal homogeneity; together they are the standard paired
# readout. κ = (p_o − p_e)/(1 − p_e) from the exact 2×2 confusion
# integers; divisions only at report time. One scan, four counts.
@_q(
    "cohens_kappa_models",
    """
    WITH p AS (
      SELECT CASE WHEN o_totalprice > 150000 THEN 1 ELSE 0 END AS a,
             CASE WHEN o_totalprice > 100000 AND o_orderstatus = 'F'
                  THEN 1 ELSE 0 END AS b
      FROM orders
    ),
    s AS (
      SELECT COUNT(*) AS n,
             SUM(CASE WHEN a = b THEN 1 ELSE 0 END) AS agree,
             SUM(a) AS a1, SUM(b) AS b1
      FROM p
    )
    SELECT CAST(n AS BIGINT) AS n,
           CAST(agree AS BIGINT) AS n_agree,
           round(CAST(agree AS DOUBLE) / n, 6) AS p_observed,
           round((CAST(a1 AS DOUBLE) * b1
                  + CAST(n - a1 AS DOUBLE) * (n - b1))
                 / (CAST(n AS DOUBLE) * n), 6) AS p_expected,
           round((CAST(agree AS DOUBLE) / n
                  - (CAST(a1 AS DOUBLE) * b1
                     + CAST(n - a1 AS DOUBLE) * (n - b1))
                    / (CAST(n AS DOUBLE) * n))
                 / (1 - (CAST(a1 AS DOUBLE) * b1
                         + CAST(n - a1 AS DOUBLE) * (n - b1))
                        / (CAST(n AS DOUBLE) * n)), 6) AS kappa
    FROM s
    """,
)
def q_cohens_kappa_models(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = t(spark, sf_dir, "orders")
    p = o.select(
        F.when(F.col("o_totalprice") > 150000, 1).otherwise(0).alias("a"),
        F.when(
            (F.col("o_totalprice") > 100000) & (F.col("o_orderstatus") == "F"),
            1,
        )
        .otherwise(0)
        .alias("b"),
    )
    s = p.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.when(F.col("a") == F.col("b"), 1).otherwise(0)).alias(
            "agree"
        ),
        F.sum("a").alias("a1"),
        F.sum("b").alias("b1"),
    )
    nd = F.col("n").cast("double")
    po = F.col("agree").cast("double") / F.col("n")
    pe = (
        F.col("a1").cast("double") * F.col("b1")
        + (F.col("n") - F.col("a1")).cast("double")
        * (F.col("n") - F.col("b1"))
    ) / (nd * F.col("n"))
    return s.select(
        F.col("n").cast("bigint").alias("n"),
        F.col("agree").cast("bigint").alias("n_agree"),
        F.round(po, 6).alias("p_observed"),
        F.round(pe, 6).alias("p_expected"),
        F.round((po - pe) / (1 - pe), 6).alias("kappa"),
    )


# ---------------------------------------------------------------------------
# Cramér–von Mises drift statistic on the same era split as
# wasserstein_price_drift — the SQUARED-integral member of the drift
# family (KS = sup gap, W1 = ∫|gap|, CvM = ∫gap²·dF_pooled): on the
# dollar-quantized spine, T = Σ_v (F1−F2)²·w_v / N with w_v the
# pooled mass at v. Exact arithmetic: the gap at v is the integer
# (F1·n2 − F2·n1), so each spine term is
# (F1·n2 − F2·n1)²·w_v — an exact DECIMAL(38,0)/HUGEINT — and T needs
# ONE division by n1²·n2²·N. Same bounded-spine windowed-cumsum plan
# as W1.
@_q(
    "cramer_von_mises_drift",
    """
    WITH v AS (
      SELECT CAST(round(o_totalprice / 100) AS BIGINT) AS val,
             CASE WHEN year(o_orderdate) <= 1997 THEN 1 ELSE 0 END AS era
      FROM orders
    ),
    g AS (
      SELECT val, SUM(era) AS c1, SUM(1 - era) AS c2
      FROM v GROUP BY val
    ),
    c AS (
      SELECT val, c1 + c2 AS w,
             SUM(c1) OVER (ORDER BY val) AS f1,
             SUM(c2) OVER (ORDER BY val) AS f2
      FROM g
    ),
    n AS (SELECT SUM(c1) AS n1, SUM(c2) AS n2 FROM g)
    SELECT CAST(n.n1 AS BIGINT) AS n1, CAST(n.n2 AS BIGINT) AS n2,
           round(CAST(SUM(CAST(c.f1 * n.n2 - c.f2 * n.n1 AS HUGEINT)
                          * (c.f1 * n.n2 - c.f2 * n.n1) * c.w) AS DOUBLE)
                 / (CAST(n.n1 AS DOUBLE) * n.n1 * n.n2 * n.n2
                    * (n.n1 + n.n2)), 6) AS cvm_t
    FROM c CROSS JOIN n
    GROUP BY n.n1, n.n2
    """,
)
def q_cramer_von_mises_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = t(spark, sf_dir, "orders")
    v = o.select(
        F.round(F.col("o_totalprice") / 100).cast("bigint").alias("val"),
        F.when(F.year("o_orderdate") <= 1997, 1).otherwise(0).alias("era"),
    )
    g = v.groupBy("val").agg(
        F.sum("era").alias("c1"), F.sum(1 - F.col("era")).alias("c2")
    )
    w = Window.orderBy("val").rowsBetween(Window.unboundedPreceding, 0)
    c = g.select(
        (F.col("c1") + F.col("c2")).alias("w"),
        F.sum("c1").over(w).alias("f1"),
        F.sum("c2").over(w).alias("f2"),
    )
    nrow = g.agg(F.sum("c1").alias("n1"), F.sum("c2").alias("n2")).collect()[0]
    n1, n2 = int(nrow["n1"]), int(nrow["n2"])
    gap = F.col("f1") * n2 - F.col("f2") * n1
    term = gap.cast("decimal(38,0)") * gap * F.col("w")
    return c.agg(
        F.lit(n1).cast("bigint").alias("n1"),
        F.lit(n2).cast("bigint").alias("n2"),
        F.round(
            F.sum(term).cast("double")
            / (float(n1) * n1 * n2 * n2 * (n1 + n2)),
            6,
        ).alias("cvm_t"),
    )


# ---------------------------------------------------------------------------
# Benjamini-Hochberg FDR correction (Benjamini & Hochberg JRSS-B 1995)
# over a FAMILY of per-nation independence tests — the multiple-
# testing discipline any fleet-wide metrics screen needs: 25 nations
# x (chi-square of l_returnflag x discount-class, df = 2, so the
# p-value has the CLOSED FORM exp(-chi2/2) — no incomplete gamma).
# Scale shape: the fact table is touched once to build per-(nation,
# flag, class) counts; margins broadcast back; everything after is a
# 25-row spine, so the BH rank window is post-aggregate (auditor-
# clean). Determinism: chi2 rounds to 9 before the one transcendental
# (exp), p rounds to 12 before the rank/min-scan, the reverse cummin
# is order-independent, and the adjusted p rounds to 9.
@_q(
    "bh_fdr_nation_tests",
    """
    WITH f AS (
      SELECT n.n_name AS nation, l.l_returnflag AS r,
             CASE WHEN l.l_discount >= 0.05 THEN 'hi' ELSE 'lo' END AS c,
             COUNT(*) AS o
      FROM lineitem l
      JOIN orders o2 ON o2.o_orderkey = l.l_orderkey
      JOIN customer cu ON cu.c_custkey = o2.o_custkey
      JOIN nation n ON n.n_nationkey = cu.c_nationkey
      GROUP BY 1, 2, 3
    ),
    rm AS (SELECT nation, r, SUM(o) AS rn FROM f GROUP BY 1, 2),
    cm AS (SELECT nation, c, SUM(o) AS cn FROM f GROUP BY 1, 2),
    tot AS (SELECT nation, SUM(o) AS nt FROM f GROUP BY 1),
    chi AS (
      SELECT f.nation,
             round(CAST(SUM(CAST(round(
                       (CAST(f.o AS DOUBLE) - CAST(rm.rn AS DOUBLE) * cm.cn / tot.nt)
                       * (CAST(f.o AS DOUBLE) - CAST(rm.rn AS DOUBLE) * cm.cn / tot.nt)
                       / (CAST(rm.rn AS DOUBLE) * cm.cn / tot.nt), 12)
                     AS DECIMAL(38,12))) AS DOUBLE), 9) AS chi2
      FROM f JOIN rm ON rm.nation = f.nation AND rm.r = f.r
             JOIN cm ON cm.nation = f.nation AND cm.c = f.c
             JOIN tot ON tot.nation = f.nation
      GROUP BY f.nation
    ),
    p AS (
      SELECT nation, chi2, round(exp(-chi2 / 2), 12) AS pv,
             COUNT(*) OVER () AS m,
             ROW_NUMBER() OVER (ORDER BY round(exp(-chi2 / 2), 12), nation)
               AS rk
      FROM chi
    ),
    adj AS (
      SELECT nation, chi2, pv,
             round(MIN(pv * m / rk) OVER (ORDER BY rk
               ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING), 9) AS padj0
      FROM p
    )
    SELECT nation, round(chi2, 6) AS chi2, pv AS p_value,
           LEAST(padj0, 1.0) AS p_adj_bh,
           CAST(CASE WHEN LEAST(padj0, 1.0) <= 0.05 THEN 1 ELSE 0 END
                AS BIGINT) AS reject_at_05
    FROM adj ORDER BY p_value, nation
    """,
)
def q_bh_fdr_nation_tests(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    li = t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_returnflag", "l_discount"
    )
    o = t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    cu = t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    na = t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    f = (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(F.broadcast(cu), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(na), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy(
            F.col("n_name").alias("nation"),
            F.col("l_returnflag").alias("r"),
            F.when(F.col("l_discount") >= 0.05, "hi").otherwise("lo").alias("c"),
        )
        .agg(F.count(F.lit(1)).alias("o"))
    )
    rm = f.groupBy(F.col("nation").alias("n1"), F.col("r").alias("r1")).agg(
        F.sum("o").alias("rn")
    )
    cm = f.groupBy(F.col("nation").alias("n2"), F.col("c").alias("c1")).agg(
        F.sum("o").alias("cn")
    )
    tot = f.groupBy(F.col("nation").alias("n3")).agg(F.sum("o").alias("nt"))
    e = F.col("rn").cast("double") * F.col("cn") / F.col("nt")
    chi = (
        f.join(
            F.broadcast(rm),
            (F.col("nation") == F.col("n1")) & (F.col("r") == F.col("r1")),
        )
        .join(
            F.broadcast(cm),
            (F.col("nation") == F.col("n2")) & (F.col("c") == F.col("c1")),
        )
        .join(F.broadcast(tot), F.col("nation") == F.col("n3"))
        .groupBy("nation")
        .agg(
            F.round(
                F.sum(
                    F.round(
                        (F.col("o").cast("double") - e)
                        * (F.col("o").cast("double") - e)
                        / e,
                        12,
                    ).cast("decimal(38,12)")
                ).cast("double"),
                9,
            ).alias("chi2")
        )
    )
    pv = F.round(F.exp(-F.col("chi2") / 2), 12)
    p = chi.select(
        "nation",
        "chi2",
        pv.alias("pv"),
        F.count(F.lit(1)).over(Window.partitionBy()).alias("m"),
        F.row_number().over(Window.orderBy(pv, "nation")).alias("rk"),
    )
    w_rev = Window.orderBy("rk").rowsBetween(Window.currentRow, Window.unboundedFollowing)
    adj = p.select(
        "nation",
        "chi2",
        "pv",
        F.round(
            F.min(F.col("pv") * F.col("m") / F.col("rk")).over(w_rev), 9
        ).alias("padj0"),
    )
    padj = F.least(F.col("padj0"), F.lit(1.0))
    return adj.select(
        "nation",
        F.round("chi2", 6).alias("chi2"),
        F.col("pv").alias("p_value"),
        padj.alias("p_adj_bh"),
        F.when(padj <= 0.05, 1).otherwise(0).cast("bigint").alias("reject_at_05"),
    ).orderBy("p_value", "nation")


# ---------------------------------------------------------------------------
# Cochran-Armitage trend test (Cochran 1954; Armitage 1955): is the
# fulfillment rate MONOTONE in order priority? Ordered scores s=1..5
# from the priority prefix digit; outcome = order fully shipped
# (o_orderstatus = 'F'). The statistic reduces to five per-group
# integer pairs (n_i, x_i): Z = (N*Ssx - X*Ssn) * sqrt(N)
# / sqrt(X*(N-X)*(N*Sssn - Ssn^2)) — numerator and the radicand are
# EXACT (DECIMAL(38,0); the radicand tops 2^63 at sf0.1), so the only
# float ops are two sqrts and one division in fixed order.
@_q(
    "cochran_armitage_trend",
    """
    WITH g AS (
      SELECT CAST(substring(o_orderpriority, 1, 1) AS BIGINT) AS s,
             COUNT(*) AS n,
             SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS x
      FROM orders GROUP BY 1
    ),
    agg AS (
      SELECT CAST(SUM(n) AS DECIMAL(38,0)) AS nn,
             CAST(SUM(x) AS DECIMAL(38,0)) AS xx,
             CAST(SUM(s * n) AS DECIMAL(38,0)) AS ssn,
             CAST(SUM(s * x) AS DECIMAL(38,0)) AS ssx,
             CAST(SUM(s * s * n) AS DECIMAL(38,0)) AS sssn
      FROM g
    )
    SELECT CAST(nn AS BIGINT) AS n_total, CAST(xx AS BIGINT) AS x_total,
           round(CAST(nn * ssx - xx * ssn AS DOUBLE)
                 * sqrt(CAST(nn AS DOUBLE))
                 / sqrt(CAST(xx * (nn - xx) * (nn * sssn - ssn * ssn)
                             AS DOUBLE)), 9) AS z_trend
    FROM agg
    """,
)
def q_cochran_armitage_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    g = (
        t(spark, sf_dir, "orders")
        .groupBy(
            F.substring("o_orderpriority", 1, 1).cast("bigint").alias("s")
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(
                F.when(F.col("o_orderstatus") == "F", 1).otherwise(0)
            ).alias("x"),
        )
    )
    dec = lambda c: F.sum(c).cast("decimal(38,0)")
    agg = g.agg(
        dec(F.col("n")).alias("nn"),
        dec(F.col("x")).alias("xx"),
        dec(F.col("s") * F.col("n")).alias("ssn"),
        dec(F.col("s") * F.col("x")).alias("ssx"),
        dec(F.col("s") * F.col("s") * F.col("n")).alias("sssn"),
    )
    nn, xx = F.col("nn"), F.col("xx")
    z = (
        (nn * F.col("ssx") - xx * F.col("ssn")).cast("double")
        * F.sqrt(nn.cast("double"))
        / F.sqrt(
            (
                xx * (nn - xx) * (nn * F.col("sssn") - F.col("ssn") * F.col("ssn"))
            ).cast("double")
        )
    )
    return agg.select(
        nn.cast("bigint").alias("n_total"),
        xx.cast("bigint").alias("x_total"),
        F.round(z, 9).alias("z_trend"),
    )


# ---------------------------------------------------------------------------
# Hodges-Lehmann two-sample shift estimator (Hodges & Lehmann 1963):
# the median of all nA*nR pairwise differences quantity(A) -
# quantity(R) — the robust location-shift companion to mann_whitney_u
# (it estimates WHAT the U test detects). The pairwise multiset never
# materializes: both samples reduce to the 50-value quantity spine,
# so the differences are a <=2500-row WEIGHTED spine (weight = count
# product, exact DECIMAL(38)) and the median is the weighted-rank
# crossing — everything exact integers, the final average of the two
# middle order statistics is the one float op.
@_q(
    "hodges_lehmann_shift",
    """
    WITH a AS (
      SELECT CAST(l_quantity AS BIGINT) AS v, COUNT(*) AS c
      FROM lineitem WHERE l_returnflag = 'A' GROUP BY 1
    ),
    r AS (
      SELECT CAST(l_quantity AS BIGINT) AS v, COUNT(*) AS c
      FROM lineitem WHERE l_returnflag = 'R' GROUP BY 1
    ),
    d AS (
      SELECT a.v - r.v AS d,
             SUM(CAST(a.c AS DECIMAL(38,0)) * r.c) AS w
      FROM a CROSS JOIN r GROUP BY 1
    ),
    tot AS (SELECT CAST(SUM(w) AS DECIMAL(38,0)) AS t FROM d),
    cum AS (
      SELECT d, SUM(w) OVER (ORDER BY d) AS cw FROM d
    ),
    m AS (
      SELECT
        (SELECT MIN(d) FROM cum, tot WHERE cw >= (t + 1) // 2) AS lo,
        (SELECT MIN(d) FROM cum, tot WHERE cw >= t // 2 + 1) AS hi
      FROM tot
    )
    SELECT CAST(tot.t AS BIGINT) AS n_pairs,
           CAST(m.lo AS BIGINT) AS lower_mid,
           CAST(m.hi AS BIGINT) AS upper_mid,
           CAST(m.lo + m.hi AS DOUBLE) / 2 AS hl_shift
    FROM m, tot
    """,
)
def q_hodges_lehmann_shift(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem")
    spine = lambda flag: (
        li.where(F.col("l_returnflag") == flag)
        .groupBy(F.col("l_quantity").cast("bigint").alias("v"))
        .agg(F.count(F.lit(1)).alias("c"))
    )
    a = spine("A").select(F.col("v").alias("va"), F.col("c").alias("ca"))
    r = spine("R").select(F.col("v").alias("vr"), F.col("c").alias("cr"))
    d = (
        a.crossJoin(F.broadcast(r))
        .groupBy((F.col("va") - F.col("vr")).alias("d"))
        .agg(
            F.sum(F.col("ca").cast("decimal(38,0)") * F.col("cr")).alias("w")
        )
        .localCheckpoint(eager=True)  # total + cumulative + crossings
    )
    tot = d.agg(F.sum("w").cast("decimal(38,0)").alias("t"))
    from ..operators.quantiles import with_global_cumsum

    cum = with_global_cumsum(d, ["d"], ["w"]).select(
        "d", F.col("cum_w").alias("cw")
    )
    j = cum.crossJoin(F.broadcast(tot))
    # rank thresholds mirror the oracle's FLOOR division exactly:
    # k1 = (t+1)//2 (lower middle), k2 = t//2 + 1 (upper middle) —
    # a >= t/2 + 0.5 comparison would be off by one for even t
    k1 = F.floor((F.col("t") + 1) / 2)
    k2 = F.floor(F.col("t") / 2) + 1
    lo = j.where(F.col("cw") >= k1).agg(F.min("d").alias("lo"))
    hi = j.where(F.col("cw") >= k2).agg(F.min("d").alias("hi"))
    return (
        tot.crossJoin(F.broadcast(lo))
        .crossJoin(F.broadcast(hi))
        .select(
            F.col("t").cast("bigint").alias("n_pairs"),
            F.col("lo").cast("bigint").alias("lower_mid"),
            F.col("hi").cast("bigint").alias("upper_mid"),
            ((F.col("lo") + F.col("hi")).cast("double") / 2).alias("hl_shift"),
        )
    )


# ---------------------------------------------------------------------------
# Partial correlation (Yule 1907): corr(quantity, extendedprice)
# CONTROLLING for discount — r_xy.z = (rxy - rxz*ryz)
# / sqrt((1-rxz^2)(1-ryz^2)). All three Pearson correlations come
# from ONE aggregation pass of exact DECIMAL sufficient statistics
# (2dp inputs -> 4dp products), so the whole statistic is a fixed-
# order float expression over nine exact numbers — the "does the
# association survive the confounder" one-liner.
@_q(
    "partial_correlation",
    """
    WITH s AS (
      SELECT COUNT(*) AS n,
             CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DECIMAL(38,2)) AS sx,
             CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DECIMAL(38,2)) AS sy,
             CAST(SUM(CAST(l_discount AS DECIMAL(18,2))) AS DECIMAL(38,2)) AS sz,
             CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))
                      * CAST(l_quantity AS DECIMAL(18,2))) AS DECIMAL(38,4)) AS sxx,
             CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                      * CAST(l_extendedprice AS DECIMAL(18,2))) AS DECIMAL(38,4)) AS syy,
             CAST(SUM(CAST(l_discount AS DECIMAL(18,2))
                      * CAST(l_discount AS DECIMAL(18,2))) AS DECIMAL(38,4)) AS szz,
             CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))
                      * CAST(l_extendedprice AS DECIMAL(18,2))) AS DECIMAL(38,4)) AS sxy,
             CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))
                      * CAST(l_discount AS DECIMAL(18,2))) AS DECIMAL(38,4)) AS sxz,
             CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                      * CAST(l_discount AS DECIMAL(18,2))) AS DECIMAL(38,4)) AS syz
      FROM lineitem
    ),
    r AS (
      SELECT n,
        CAST(n * sxy - sx * sy AS DOUBLE)
          / sqrt(CAST(n * sxx - sx * sx AS DOUBLE)
                 * CAST(n * syy - sy * sy AS DOUBLE)) AS rxy,
        CAST(n * sxz - sx * sz AS DOUBLE)
          / sqrt(CAST(n * sxx - sx * sx AS DOUBLE)
                 * CAST(n * szz - sz * sz AS DOUBLE)) AS rxz,
        CAST(n * syz - sy * sz AS DOUBLE)
          / sqrt(CAST(n * syy - sy * sy AS DOUBLE)
                 * CAST(n * szz - sz * sz AS DOUBLE)) AS ryz
      FROM s
    )
    SELECT CAST(n AS BIGINT) AS n_rows,
           round(rxy, 9) AS r_xy, round(rxz, 9) AS r_xz,
           round(ryz, 9) AS r_yz,
           round((rxy - rxz * ryz)
                 / sqrt((1 - rxz * rxz) * (1 - ryz * ryz)), 9)
             AS partial_r_xy_given_z
    FROM r
    """,
)
def q_partial_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem")
    d = lambda c: F.col(c).cast("decimal(18,2)")
    dd = lambda e, s: F.sum(e).cast(f"decimal(38,{s})")
    s = li.agg(
        F.count(F.lit(1)).alias("n"),
        dd(d("l_quantity"), 2).alias("sx"),
        dd(d("l_extendedprice"), 2).alias("sy"),
        dd(d("l_discount"), 2).alias("sz"),
        dd(d("l_quantity") * d("l_quantity"), 4).alias("sxx"),
        dd(d("l_extendedprice") * d("l_extendedprice"), 4).alias("syy"),
        dd(d("l_discount") * d("l_discount"), 4).alias("szz"),
        dd(d("l_quantity") * d("l_extendedprice"), 4).alias("sxy"),
        dd(d("l_quantity") * d("l_discount"), 4).alias("sxz"),
        dd(d("l_extendedprice") * d("l_discount"), 4).alias("syz"),
    )
    n = F.col("n")

    def corr(sab, sa, sb, saa, sbb):
        return (n * F.col(sab) - F.col(sa) * F.col(sb)).cast("double") / F.sqrt(
            (n * F.col(saa) - F.col(sa) * F.col(sa)).cast("double")
            * (n * F.col(sbb) - F.col(sb) * F.col(sb)).cast("double")
        )

    r = s.select(
        "n",
        corr("sxy", "sx", "sy", "sxx", "syy").alias("rxy"),
        corr("sxz", "sx", "sz", "sxx", "szz").alias("rxz"),
        corr("syz", "sy", "sz", "syy", "szz").alias("ryz"),
    )
    rxy, rxz, ryz = F.col("rxy"), F.col("rxz"), F.col("ryz")
    return r.select(
        n.cast("bigint").alias("n_rows"),
        F.round(rxy, 9).alias("r_xy"),
        F.round(rxz, 9).alias("r_xz"),
        F.round(ryz, 9).alias("r_yz"),
        F.round(
            (rxy - rxz * ryz) / F.sqrt((1 - rxz * rxz) * (1 - ryz * ryz)), 9
        ).alias("partial_r_xy_given_z"),
    )


# ---------------------------------------------------------------------------
# Theil inequality index with within/between decomposition (Theil
# 1967): T = (1/N) sum (x/mu) ln(x/mu) over order values, split by
# customer nation — T = sum_g s_g*T_g + sum_g s_g*ln(mu_g/mu), the
# property Gini lacks and the reason Theil is the decomposition
# workhorse. Means come from exact DECIMAL sums; the per-row
# transcendental term rounds to 12 and accumulates as DECIMAL(38,12)
# (order-independent, the ATT discipline), so the only engine seam is
# ln itself at the shared rounding point. Between-group is a bounded
# 25-row aggregate.
@_q(
    "theil_index_decomposition",
    """
    WITH j AS (
      SELECT n.n_name AS g, CAST(o.o_totalprice AS DECIMAL(18,2)) AS x
      FROM orders o
      JOIN customer c ON c.c_custkey = o.o_custkey
      JOIN nation n ON n.n_nationkey = c.c_nationkey
    ),
    tot AS (
      SELECT COUNT(*) AS n, CAST(SUM(x) AS DECIMAL(38,2)) AS s FROM j
    ),
    grp AS (
      SELECT g, COUNT(*) AS ng, CAST(SUM(x) AS DECIMAL(38,2)) AS sg
      FROM j GROUP BY g
    ),
    terms AS (
      SELECT CAST(SUM(CAST(round(
               (CAST(x AS DOUBLE) / (CAST(t.s AS DOUBLE) / t.n))
               * ln(CAST(x AS DOUBLE) / (CAST(t.s AS DOUBLE) / t.n)), 12)
               AS DECIMAL(38,12))) AS DOUBLE) / MAX(t.n) AS t_total
      FROM j, tot t
    ),
    between_g AS (
      SELECT CAST(SUM(CAST(round(
               (CAST(g.sg AS DOUBLE) / t.s)
               * ln((CAST(g.sg AS DOUBLE) / g.ng)
                    / (CAST(t.s AS DOUBLE) / t.n)), 12)
               AS DECIMAL(38,12))) AS DOUBLE) AS t_between
      FROM grp g, tot t
    )
    SELECT CAST((SELECT n FROM tot) AS BIGINT) AS n_rows,
           round(terms.t_total, 6) AS theil_total,
           round(between_g.t_between, 6) AS theil_between,
           round(terms.t_total - between_g.t_between, 6) AS theil_within
    FROM terms, between_g
    """,
)
def q_theil_index_decomposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = t(spark, sf_dir, "orders")
    c = t(spark, sf_dir, "customer")
    na = t(spark, sf_dir, "nation")
    j = (
        o.join(F.broadcast(c), o["o_custkey"] == c["c_custkey"])
        .join(F.broadcast(na), F.col("c_nationkey") == F.col("n_nationkey"))
        .select(
            F.col("n_name").alias("g"),
            F.col("o_totalprice").cast("decimal(18,2)").alias("x"),
        )
        .localCheckpoint(eager=True)  # total + group + term arms share it
    )
    tot = j.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").cast("decimal(38,2)").alias("s"),
    )
    grp = j.groupBy("g").agg(
        F.count(F.lit(1)).alias("ng"),
        F.sum("x").cast("decimal(38,2)").alias("sg"),
    )
    mu = F.col("s").cast("double") / F.col("n")
    ratio = F.col("x").cast("double") / mu
    terms = (
        j.crossJoin(F.broadcast(tot))
        .agg(
            (
                F.sum(
                    F.round(ratio * F.log(ratio), 12).cast("decimal(38,12)")
                ).cast("double")
                / F.max("n")
            ).alias("t_total")
        )
    )
    share = F.col("sg").cast("double") / F.col("s")
    mug = F.col("sg").cast("double") / F.col("ng")
    between = (
        grp.crossJoin(F.broadcast(tot))
        .agg(
            F.sum(
                F.round(share * F.log(mug / mu), 12).cast("decimal(38,12)")
            )
            .cast("double")
            .alias("t_between")
        )
    )
    nr = tot.select(F.col("n").cast("bigint").alias("n_rows"))
    return (
        nr.crossJoin(F.broadcast(terms))
        .crossJoin(F.broadcast(between))
        .select(
            "n_rows",
            F.round(F.col("t_total"), 6).alias("theil_total"),
            F.round(F.col("t_between"), 6).alias("theil_between"),
            F.round(F.col("t_total") - F.col("t_between"), 6).alias(
                "theil_within"
            ),
        )
    )


# ---------------------------------------------------------------------------
# Jarque-Bera normality test (Jarque & Bera 1980): JB = n/6 *
# (S^2 + K_excess^2/4) from the exact central-moment sufficient
# statistics of o_totalprice — the one-pass normality screen. Raw
# power sums accumulate as DECIMAL (2dp inputs -> up to 8dp fourth
# powers; DECIMAL(38,8) holds the sf0.1 magnitudes), central moments
# assemble from them in ONE fixed-order float expression, so the only
# nondeterminism surface is the final arithmetic both engines share.
@_q(
    "jarque_bera_normality",
    """
    WITH s AS (
      -- powers via the squared square with interim casts: a naive
      -- d*d*d*d chain exceeds DECIMAL(38) width in DuckDB's
      -- multiplication rules (measured overflow at sf0.01)
      SELECT COUNT(*) AS n,
             CAST(SUM(x) AS DECIMAL(38,2)) AS s1,
             CAST(SUM(p2) AS DECIMAL(38,4)) AS s2,
             CAST(SUM(CAST(p2 * x AS DECIMAL(28,6))) AS DECIMAL(38,6)) AS s3,
             CAST(SUM(CAST(p2 * p2 AS DECIMAL(38,8))) AS DECIMAL(38,8)) AS s4
      FROM (SELECT x, CAST(x * x AS DECIMAL(19,4)) AS p2
            FROM (SELECT CAST(o_totalprice AS DECIMAL(18,2)) AS x
                  FROM orders))
    ),
    m AS (
      SELECT n,
             CAST(s1 AS DOUBLE) / n AS m1,
             CAST(s2 AS DOUBLE) / n - (CAST(s1 AS DOUBLE) / n)
               * (CAST(s1 AS DOUBLE) / n) AS m2,
             CAST(s3 AS DOUBLE) / n
               - 3 * (CAST(s1 AS DOUBLE) / n) * (CAST(s2 AS DOUBLE) / n)
               + 2 * (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n)
                   * (CAST(s1 AS DOUBLE) / n) AS m3,
             CAST(s4 AS DOUBLE) / n
               - 4 * (CAST(s1 AS DOUBLE) / n) * (CAST(s3 AS DOUBLE) / n)
               + 6 * (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n)
                   * (CAST(s2 AS DOUBLE) / n)
               - 3 * (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n)
                   * (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n) AS m4
      FROM s
    )
    SELECT CAST(n AS BIGINT) AS n_rows,
           round(m3 / (m2 * sqrt(m2)), 9) AS skewness,
           round(m4 / (m2 * m2) - 3, 9) AS kurtosis_excess,
           round(n / 6.0 * ((m3 / (m2 * sqrt(m2))) * (m3 / (m2 * sqrt(m2)))
                 + (m4 / (m2 * m2) - 3) * (m4 / (m2 * m2) - 3) / 4), 6)
             AS jarque_bera
    FROM m
    """,
)
def q_jarque_bera_normality(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = t(spark, sf_dir, "orders")
    base = o.select(F.col("o_totalprice").cast("decimal(18,2)").alias("x"))
    powd = base.select(
        "x", (F.col("x") * F.col("x")).cast("decimal(19,4)").alias("p2")
    )
    s = powd.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").cast("decimal(38,2)").alias("s1"),
        F.sum("p2").cast("decimal(38,4)").alias("s2"),
        F.sum((F.col("p2") * F.col("x")).cast("decimal(28,6)"))
        .cast("decimal(38,6)")
        .alias("s3"),
        F.sum((F.col("p2") * F.col("p2")).cast("decimal(38,8)"))
        .cast("decimal(38,8)")
        .alias("s4"),
    )
    n = F.col("n")
    m1 = F.col("s1").cast("double") / n
    m2 = F.col("s2").cast("double") / n - m1 * m1
    m3 = (
        F.col("s3").cast("double") / n
        - 3 * m1 * (F.col("s2").cast("double") / n)
        + 2 * m1 * m1 * m1
    )
    m4 = (
        F.col("s4").cast("double") / n
        - 4 * m1 * (F.col("s3").cast("double") / n)
        + 6 * m1 * m1 * (F.col("s2").cast("double") / n)
        - 3 * m1 * m1 * m1 * m1
    )
    skew = m3 / (m2 * F.sqrt(m2))
    kurt = m4 / (m2 * m2) - 3
    return s.select(
        n.cast("bigint").alias("n_rows"),
        F.round(skew, 9).alias("skewness"),
        F.round(kurt, 9).alias("kurtosis_excess"),
        F.round(n / 6.0 * (skew * skew + kurt * kurt / 4), 6).alias(
            "jarque_bera"
        ),
    )


# ---------------------------------------------------------------------------
# Cohen's d / Hedges' g standardized effect size for the A-vs-R
# quantity difference — the "how big, not just how significant"
# companion the t/U/HL battery needs. Pooled SD from exact DECIMAL
# sufficient statistics; Hedges' small-sample factor uses the
# J ~ 1 - 3/(4*df - 1) approximation (Hedges 1981) — one fixed-order
# float expression.
@_q(
    "cohens_d_effect_size",
    """
    WITH g AS (
      SELECT l_returnflag AS f, COUNT(*) AS n,
             CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DECIMAL(38,2)) AS s,
             CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))
                      * CAST(l_quantity AS DECIMAL(18,2))) AS DECIMAL(38,4)) AS ss
      FROM lineitem WHERE l_returnflag IN ('A', 'R') GROUP BY 1
    ),
    w AS (
      SELECT
        max(CASE WHEN f = 'A' THEN n END) AS n1,
        max(CASE WHEN f = 'A' THEN s END) AS s1,
        max(CASE WHEN f = 'A' THEN ss END) AS ss1,
        max(CASE WHEN f = 'R' THEN n END) AS n2,
        max(CASE WHEN f = 'R' THEN s END) AS s2,
        max(CASE WHEN f = 'R' THEN ss END) AS ss2
      FROM g
    )
    SELECT CAST(n1 AS BIGINT) AS n_a, CAST(n2 AS BIGINT) AS n_r,
           round((CAST(s1 AS DOUBLE) / n1 - CAST(s2 AS DOUBLE) / n2)
                 / sqrt(((CAST(ss1 AS DOUBLE)
                          - CAST(s1 AS DOUBLE) * s1 / n1)
                         + (CAST(ss2 AS DOUBLE)
                            - CAST(s2 AS DOUBLE) * s2 / n2))
                        / (n1 + n2 - 2)), 9) AS cohens_d,
           round(((CAST(s1 AS DOUBLE) / n1 - CAST(s2 AS DOUBLE) / n2)
                 / sqrt(((CAST(ss1 AS DOUBLE)
                          - CAST(s1 AS DOUBLE) * s1 / n1)
                         + (CAST(ss2 AS DOUBLE)
                            - CAST(s2 AS DOUBLE) * s2 / n2))
                        / (n1 + n2 - 2)))
                 * (1 - 3.0 / (4 * (n1 + n2 - 2) - 1)), 9) AS hedges_g
    FROM w
    """,
)
def q_cohens_d_effect_size(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem").where(
        F.col("l_returnflag").isin("A", "R")
    )
    d = F.col("l_quantity").cast("decimal(18,2)")
    g = li.groupBy(F.col("l_returnflag").alias("f")).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(d).cast("decimal(38,2)").alias("s"),
        F.sum(d * d).cast("decimal(38,4)").alias("ss"),
    )
    pick = lambda c, f: F.max(F.when(F.col("f") == f, F.col(c)))
    w = g.agg(
        pick("n", "A").alias("n1"),
        pick("s", "A").alias("s1"),
        pick("ss", "A").alias("ss1"),
        pick("n", "R").alias("n2"),
        pick("s", "R").alias("s2"),
        pick("ss", "R").alias("ss2"),
    )
    n1, n2 = F.col("n1"), F.col("n2")
    mean_diff = F.col("s1").cast("double") / n1 - F.col("s2").cast("double") / n2
    pooled = F.sqrt(
        (
            (F.col("ss1").cast("double") - F.col("s1").cast("double") * F.col("s1") / n1)
            + (
                F.col("ss2").cast("double")
                - F.col("s2").cast("double") * F.col("s2") / n2
            )
        )
        / (n1 + n2 - 2)
    )
    dd = mean_diff / pooled
    return w.select(
        n1.cast("bigint").alias("n_a"),
        n2.cast("bigint").alias("n_r"),
        F.round(dd, 9).alias("cohens_d"),
        F.round(dd * (1 - 3.0 / (4 * (n1 + n2 - 2) - 1)), 9).alias("hedges_g"),
    )


# ---------------------------------------------------------------------------
# Friedman test (Friedman 1937): are the three return-flag mean
# quantities consistently ORDERED across nation blocks? The classic
# repeated-measures rank test — k=3 treatments ranked WITHIN each of
# the 25 nation blocks, chi2_F = 12/(nk(k+1)) * sum R_j^2 - 3n(k+1).
# Ranks come from the bounded 3x3 within-block comparison join on the
# doubled lattice (2*below + ties + 1 — exact under ties); block
# means round to 6 before ranking so both engines rank identical
# values. Everything after the fact-table aggregation is 75 rows.
@_q(
    "friedman_test",
    """
    WITH cell AS (
      SELECT n.n_name AS blk, l.l_returnflag AS trt,
             round(CAST(SUM(CAST(l.l_quantity AS DECIMAL(18,2))) AS DOUBLE)
                   / COUNT(*), 6) AS v
      FROM lineitem l
      JOIN orders o ON o.o_orderkey = l.l_orderkey
      JOIN customer c ON c.c_custkey = o.o_custkey
      JOIN nation n ON n.n_nationkey = c.c_nationkey
      GROUP BY 1, 2
    ),
    ranked AS (
      SELECT a.blk, a.trt,
             SUM(CASE WHEN b.v < a.v THEN 2 ELSE 0 END)
               + SUM(CASE WHEN b.v = a.v AND b.trt <> a.trt THEN 1 ELSE 0 END)
               + 2 AS r2
      FROM cell a JOIN cell b ON b.blk = a.blk
      GROUP BY a.blk, a.trt
    ),
    sums AS (
      SELECT trt, CAST(SUM(r2) AS DECIMAL(38,0)) AS rj2,
             COUNT(*) AS nblk
      FROM ranked GROUP BY trt
    ),
    agg AS (
      SELECT MAX(nblk) AS n, COUNT(*) AS k,
             CAST(SUM(rj2 * rj2) AS DECIMAL(38,0)) AS sr2
      FROM sums
    )
    SELECT CAST(n AS BIGINT) AS n_blocks, CAST(k AS BIGINT) AS k_treatments,
           round(12.0 / (4 * n * k * (k + 1)) * CAST(sr2 AS DOUBLE)
                 - 3.0 * n * (k + 1), 9) AS friedman_chi2
    FROM agg
    """,
)
def q_friedman_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_returnflag", "l_quantity"
    )
    o = t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    cu = t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    na = t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    cell = (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(F.broadcast(cu), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(na), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy(F.col("n_name").alias("blk"), F.col("l_returnflag").alias("trt"))
        .agg(
            F.round(
                F.sum(F.col("l_quantity").cast("decimal(18,2)")).cast("double")
                / F.count(F.lit(1)),
                6,
            ).alias("v")
        )
        .localCheckpoint(eager=True)  # both sides of the rank join
    )
    a = cell.select(
        F.col("blk"), F.col("trt"), F.col("v")
    )
    b = cell.select(
        F.col("blk").alias("b_blk"), F.col("trt").alias("b_trt"), F.col("v").alias("b_v")
    )
    ranked = (
        a.join(F.broadcast(b), F.col("b_blk") == F.col("blk"))
        .groupBy("blk", "trt")
        .agg(
            (
                F.sum(F.when(F.col("b_v") < F.col("v"), 2).otherwise(0))
                + F.sum(
                    F.when(
                        (F.col("b_v") == F.col("v"))
                        & (F.col("b_trt") != F.col("trt")),
                        1,
                    ).otherwise(0)
                )
                + 2
            ).alias("r2")
        )
    )
    sums = ranked.groupBy("trt").agg(
        F.sum("r2").cast("decimal(38,0)").alias("rj2"),
        F.count(F.lit(1)).alias("nblk"),
    )
    agg = sums.agg(
        F.max("nblk").alias("n"),
        F.count(F.lit(1)).alias("k"),
        F.sum(F.col("rj2") * F.col("rj2")).cast("decimal(38,0)").alias("sr2"),
    )
    n, k = F.col("n"), F.col("k")
    return agg.select(
        n.cast("bigint").alias("n_blocks"),
        k.cast("bigint").alias("k_treatments"),
        F.round(
            F.lit(12.0)
            / (4 * n * k * (k + 1))
            * F.col("sr2").cast("double")
            - F.lit(3.0) * n * (k + 1),
            9,
        ).alias("friedman_chi2"),
    )


# ---------------------------------------------------------------------------
# Cramer's V association matrix over the lineitem categorical triple
# (returnflag, linestatus, ship month) — effect SIZE for the chi-square
# family: V = sqrt(chi2 / (N * (min(r,c) - 1))), comparable across
# tables of different shapes. One aggregation per pair over the
# already-tiny contingency tables (<= 21 cells); margins broadcast.
@_q(
    "cramers_v_matrix",
    """
    WITH pairs AS (
      SELECT 'returnflag' AS ca, 'linestatus' AS cb,
             l_returnflag AS a, l_linestatus AS b FROM lineitem
      UNION ALL
      SELECT 'returnflag', 'shipmonth', l_returnflag,
             CAST(month(l_shipdate) AS VARCHAR) FROM lineitem
      UNION ALL
      SELECT 'linestatus', 'shipmonth', l_linestatus,
             CAST(month(l_shipdate) AS VARCHAR) FROM lineitem
    ),
    obs AS (
      SELECT ca, cb, a, b, CAST(COUNT(*) AS DOUBLE) AS o
      FROM pairs GROUP BY 1, 2, 3, 4
    ),
    rm AS (SELECT ca, cb, a, SUM(o) AS rn FROM obs GROUP BY 1, 2, 3),
    cm AS (SELECT ca, cb, b, SUM(o) AS cn FROM obs GROUP BY 1, 2, 3),
    tot AS (SELECT ca, cb, SUM(o) AS nt,
                   COUNT(DISTINCT a) AS nr, COUNT(DISTINCT b) AS nc
            FROM obs GROUP BY 1, 2),
    chi AS (
      SELECT obs.ca, obs.cb,
             CAST(SUM(CAST(round(
                 (obs.o - rm.rn * cm.cn / tot.nt)
                 * (obs.o - rm.rn * cm.cn / tot.nt)
                 / (rm.rn * cm.cn / tot.nt), 12)
               AS DECIMAL(38,12))) AS DOUBLE) AS chi2,
             MAX(tot.nt) AS nt, MAX(tot.nr) AS nr, MAX(tot.nc) AS nc
      FROM obs
      JOIN rm ON rm.ca = obs.ca AND rm.cb = obs.cb AND rm.a = obs.a
      JOIN cm ON cm.ca = obs.ca AND cm.cb = obs.cb AND cm.b = obs.b
      JOIN tot ON tot.ca = obs.ca AND tot.cb = obs.cb
      GROUP BY obs.ca, obs.cb
    )
    SELECT ca AS col_a, cb AS col_b, round(chi2, 6) AS chi2,
           round(sqrt(chi2 / (nt * (LEAST(nr, nc) - 1))), 9) AS cramers_v
    FROM chi ORDER BY col_a, col_b
    """,
)
def q_cramers_v_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem").select(
        "l_returnflag",
        "l_linestatus",
        F.month("l_shipdate").cast("string").alias("shipmonth"),
    )

    def pair(ca: str, cb: str, col_a: str, col_b: str) -> DataFrame:
        return li.select(
            F.lit(ca).alias("ca"),
            F.lit(cb).alias("cb"),
            F.col(col_a).alias("a"),
            F.col(col_b).alias("b"),
        )

    pairs = (
        pair("returnflag", "linestatus", "l_returnflag", "l_linestatus")
        .unionByName(pair("returnflag", "shipmonth", "l_returnflag", "shipmonth"))
        .unionByName(pair("linestatus", "shipmonth", "l_linestatus", "shipmonth"))
    )
    obs = pairs.groupBy("ca", "cb", "a", "b").agg(
        F.count(F.lit(1)).cast("double").alias("o")
    )
    rm = obs.groupBy(
        F.col("ca").alias("r_ca"), F.col("cb").alias("r_cb"), F.col("a").alias("r_a")
    ).agg(F.sum("o").alias("rn"))
    cm = obs.groupBy(
        F.col("ca").alias("c_ca"), F.col("cb").alias("c_cb"), F.col("b").alias("c_b")
    ).agg(F.sum("o").alias("cn"))
    tot = obs.groupBy(
        F.col("ca").alias("t_ca"), F.col("cb").alias("t_cb")
    ).agg(
        F.sum("o").alias("nt"),
        F.countDistinct("a").alias("nr"),
        F.countDistinct("b").alias("nc"),
    )
    e = F.col("rn") * F.col("cn") / F.col("nt")
    chi = (
        obs.join(
            F.broadcast(rm),
            (F.col("ca") == F.col("r_ca"))
            & (F.col("cb") == F.col("r_cb"))
            & (F.col("a") == F.col("r_a")),
        )
        .join(
            F.broadcast(cm),
            (F.col("ca") == F.col("c_ca"))
            & (F.col("cb") == F.col("c_cb"))
            & (F.col("b") == F.col("c_b")),
        )
        .join(
            F.broadcast(tot),
            (F.col("ca") == F.col("t_ca")) & (F.col("cb") == F.col("t_cb")),
        )
        .groupBy("ca", "cb")
        .agg(
            F.sum(
                F.round((F.col("o") - e) * (F.col("o") - e) / e, 12).cast(
                    "decimal(38,12)"
                )
            )
            .cast("double")
            .alias("chi2"),
            F.max("nt").alias("nt"),
            F.max("nr").alias("nr"),
            F.max("nc").alias("nc"),
        )
    )
    return chi.select(
        F.col("ca").alias("col_a"),
        F.col("cb").alias("col_b"),
        F.round("chi2", 6).alias("chi2"),
        F.round(
            F.sqrt(
                F.col("chi2")
                / (F.col("nt") * (F.least(F.col("nr"), F.col("nc")) - 1))
            ),
            9,
        ).alias("cramers_v"),
    ).orderBy("col_a", "col_b")


# ---------------------------------------------------------------------------
# Kendall's tau-b rank correlation (account balance vs total order
# spend) — the pair-concordance sibling of spearman_rank_correlation:
# tau-b counts concordant minus discordant pairs with the tie
# correction both margins need on a quantized lattice. The 100 TB
# design is the whole point: NEVER enumerate row pairs — one groupBy
# reduces the join to a CONTINGENCY CELL table (bounded by the
# quantization lattice, ~300 cells here, independent of row count),
# then concordant/discordant mass comes from a broadcast cell-pair
# join with integer count products in decimal(38,0). Tie terms n1/n2
# are marginal sums. Everything is exact integers until the final
# tau = (nc-nd)/sqrt((n0-n1)(n0-n2)), whose factors are cast to
# double first (identical IEEE arithmetic both engines; at extreme n
# the decimal->double cast is the documented precision boundary).
@_q(
    "kendall_tau_b",
    """
    WITH spend AS (
      SELECT c.c_custkey,
             CAST(floor(c.c_acctbal / 500.0) AS BIGINT) AS bx,
             CAST(floor(SUM(o.o_totalprice) / 50000.0) AS BIGINT) AS by
      FROM customer c JOIN orders o ON o.o_custkey = c.c_custkey
      GROUP BY c.c_custkey, c.c_acctbal
    ),
    cells AS (
      SELECT bx, by, CAST(COUNT(*) AS DECIMAL(38,0)) AS cnt
      FROM spend GROUP BY bx, by
    ),
    pairsum AS (
      SELECT
        CAST(SUM(CASE WHEN b.by > a.by THEN a.cnt * b.cnt
                      ELSE CAST(0 AS DECIMAL(38,0)) END) AS DECIMAL(38,0))
          AS nc,
        CAST(SUM(CASE WHEN b.by < a.by THEN a.cnt * b.cnt
                      ELSE CAST(0 AS DECIMAL(38,0)) END) AS DECIMAL(38,0))
          AS nd
      FROM cells a JOIN cells b ON b.bx > a.bx
    ),
    marg AS (
      SELECT CAST(SUM(cnt) AS DECIMAL(38,0)) AS n,
             (SELECT CAST(SUM(sx * (sx - 1) / 2) AS DECIMAL(38,0)) FROM (
                SELECT SUM(cnt) AS sx FROM cells GROUP BY bx)) AS n1,
             (SELECT CAST(SUM(sy * (sy - 1) / 2) AS DECIMAL(38,0)) FROM (
                SELECT SUM(cnt) AS sy FROM cells GROUP BY by)) AS n2
      FROM cells
    )
    SELECT CAST(m.n AS BIGINT) AS n_rows,
           CAST(p.nc AS BIGINT) AS n_concordant,
           CAST(p.nd AS BIGINT) AS n_discordant,
           round(CAST(p.nc - p.nd AS DOUBLE)
                 / sqrt(CAST(m.n * (m.n - 1) / 2 - m.n1 AS DOUBLE)
                        * CAST(m.n * (m.n - 1) / 2 - m.n2 AS DOUBLE)),
                 6) AS tau_b
    FROM pairsum p CROSS JOIN marg m
    """,
)
def q_kendall_tau_b(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = t(spark, sf_dir, "customer")
    orders = t(spark, sf_dir, "orders")
    spend = (
        cust.join(orders, F.col("o_custkey") == F.col("c_custkey"))
        .groupBy("c_custkey", "c_acctbal")
        .agg(F.sum("o_totalprice").alias("spend"))
        .select(
            F.floor(F.col("c_acctbal") / 500.0).cast("bigint").alias("bx"),
            F.floor(F.col("spend") / 50000.0).cast("bigint").alias("by"),
        )
    )
    cells = spend.groupBy("bx", "by").agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("cnt")
    )
    a = cells.select(
        F.col("bx").alias("ax"), F.col("by").alias("ay"), F.col("cnt").alias("ac")
    )
    b = cells.select(
        F.col("bx").alias("zx"), F.col("by").alias("zy"), F.col("cnt").alias("zc")
    )
    zero = F.lit(0).cast("decimal(38,0)")
    pairsum = a.join(F.broadcast(b), F.col("zx") > F.col("ax")).agg(
        F.sum(
            F.when(F.col("zy") > F.col("ay"), F.col("ac") * F.col("zc")).otherwise(
                zero
            )
        )
        .cast("decimal(38,0)")
        .alias("nc"),
        F.sum(
            F.when(F.col("zy") < F.col("ay"), F.col("ac") * F.col("zc")).otherwise(
                zero
            )
        )
        .cast("decimal(38,0)")
        .alias("nd"),
    )
    n1 = (
        cells.groupBy("bx")
        .agg(F.sum("cnt").alias("sx"))
        .agg(
            F.sum(F.col("sx") * (F.col("sx") - 1) / 2)
            .cast("decimal(38,0)")
            .alias("n1")
        )
    )
    n2 = (
        cells.groupBy("by")
        .agg(F.sum("cnt").alias("sy"))
        .agg(
            F.sum(F.col("sy") * (F.col("sy") - 1) / 2)
            .cast("decimal(38,0)")
            .alias("n2")
        )
    )
    n = cells.agg(F.sum("cnt").cast("decimal(38,0)").alias("n"))
    n0 = F.col("n") * (F.col("n") - 1) / 2
    return (
        pairsum.crossJoin(F.broadcast(n))
        .crossJoin(F.broadcast(n1))
        .crossJoin(F.broadcast(n2))
        .select(
            F.col("n").cast("bigint").alias("n_rows"),
            F.col("nc").cast("bigint").alias("n_concordant"),
            F.col("nd").cast("bigint").alias("n_discordant"),
            F.round(
                (F.col("nc") - F.col("nd")).cast("double")
                / F.sqrt(
                    (n0 - F.col("n1")).cast("double")
                    * (n0 - F.col("n2")).cast("double")
                ),
                6,
            ).alias("tau_b"),
        )
    )


# ---------------------------------------------------------------------------
# EM for a 2-component 1-D Gaussian mixture over event values — the
# missing density-estimation tier, run as THREE unrolled EM sweeps in
# pure Catalyst. What makes a float-iterative algorithm oracle-able
# is the LOCKSTEP discipline (the pagerank/chi2 pattern, pushed
# further): per point the responsibility r2 is quantized to the 1e-6
# lattice (round 6) — identical in both engines because every input
# scalar is bit-identical and exp/sqrt are correctly-rounded on both
# — and every M-step sum runs in DECIMAL over rounded per-point
# terms, so accumulation order can't smear a single bit. Parameter
# updates divide decimal sufficient statistics and re-round(12); the
# variance step uses the CURRENT-iteration means about the previous
# E-step (a valid generalized-EM variant, chosen so each sweep is one
# aggregation). Init is moment-based (mean +/- sd). 100 TB: each
# sweep is ONE map + ONE partial-aggregated reduce; driver traffic is
# six scalars per sweep (the kmeans k x dim precedent).
_EM_SWEEPS = 3


def _sql_em_gmm() -> str:
    def gauss(mu: str, v: str) -> str:
        return f"exp(-(x - {mu}) * (x - {mu}) / (2 * {v})) / sqrt({v})"

    ctes = [
        """pts AS MATERIALIZED (SELECT CAST(value AS DOUBLE) AS x FROM events),
    m0 AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             round(CAST(SUM(CAST(round(x, 2) AS DECIMAL(38,2))) AS DOUBLE)
                   / COUNT(*), 12) AS mean,
             round(CAST(SUM(CAST(round(x * x, 4) AS DECIMAL(38,4)) ) AS DOUBLE)
                   / COUNT(*)
                   - (round(CAST(SUM(CAST(round(x, 2) AS DECIMAL(38,2)))
                                 AS DOUBLE) / COUNT(*), 12))
                     * (round(CAST(SUM(CAST(round(x, 2) AS DECIMAL(38,2)))
                                   AS DOUBLE) / COUNT(*), 12)), 12) AS var0
      FROM pts
    ),
    p0 AS (
      SELECT n, 0.5 AS w1, 0.5 AS w2,
             round(mean - sqrt(var0), 12) AS mu1,
             round(mean + sqrt(var0), 12) AS mu2,
             var0 AS v1, var0 AS v2
      FROM m0
    )"""
    ]
    for k in range(_EM_SWEEPS):
        g1 = gauss(f"p{k}.mu1", f"p{k}.v1")
        g2 = gauss(f"p{k}.mu2", f"p{k}.v2")
        ctes.append(
            f"""e{k} AS MATERIALIZED (
      SELECT p{k}.n, x,
             CAST(round(p{k}.w2 * {g2}
                        / (p{k}.w1 * {g1} + p{k}.w2 * {g2}), 6)
                  AS DECIMAL(38,6)) AS r2,
             p{k}.mu1 AS mu1o, p{k}.mu2 AS mu2o
      FROM pts CROSS JOIN p{k}
    ),
    s{k} AS (
      SELECT max(n) AS n,
             SUM(CAST(1 AS DECIMAL(38,6)) - r2) AS s1,
             SUM(r2) AS s2,
             SUM(CAST(round(CAST(CAST(1 AS DECIMAL(38,6)) - r2 AS DOUBLE)
                            * x, 8) AS DECIMAL(38,8))) AS s1x,
             SUM(CAST(round(CAST(r2 AS DOUBLE) * x, 8)
                      AS DECIMAL(38,8))) AS s2x,
             SUM(CAST(round(CAST(CAST(1 AS DECIMAL(38,6)) - r2 AS DOUBLE)
                            * (x - mu1o) * (x - mu1o), 6)
                      AS DECIMAL(38,6))) AS s1v,
             SUM(CAST(round(CAST(r2 AS DOUBLE) * (x - mu2o) * (x - mu2o), 6)
                      AS DECIMAL(38,6))) AS s2v
      FROM e{k}
    ),
    p{k + 1} AS (
      SELECT n,
             round(CAST(s1 AS DOUBLE) / n, 12) AS w1,
             round(CAST(s2 AS DOUBLE) / n, 12) AS w2,
             round(CAST(s1x AS DOUBLE) / CAST(s1 AS DOUBLE), 12) AS mu1,
             round(CAST(s2x AS DOUBLE) / CAST(s2 AS DOUBLE), 12) AS mu2,
             round(CAST(s1v AS DOUBLE) / CAST(s1 AS DOUBLE), 12) AS v1,
             round(CAST(s2v AS DOUBLE) / CAST(s2 AS DOUBLE), 12) AS v2
      FROM s{k}
    )"""
        )
    return (
        "WITH "
        + ",\n    ".join(ctes)
        + f"""
    SELECT CAST(n AS BIGINT) AS n_points,
           round(w1, 6) AS w1, round(w2, 6) AS w2,
           round(mu1, 6) AS mu1, round(mu2, 6) AS mu2,
           round(sqrt(v1), 6) AS sd1, round(sqrt(v2), 6) AS sd2
    FROM p{_EM_SWEEPS}
    """
    )


@_q("em_gaussian_mixture", _sql_em_gmm())
def q_em_gaussian_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    # spread the checkpoint: the single-split scan leaves pts in ONE
    # partition, which serializes every EM sweep's aggregation (stage
    # census: 3 x 0.7 s single-task stages). All sweep aggregates are
    # exact DECIMAL sums — partition-order-free — so a round-robin
    # spread is result-identical and makes each sweep a parallel scan.
    # spread_cpu (conditional), not a bare repartition: at production
    # split counts the scan already has >= defaultParallelism splits
    # and an unconditional repartition would ADD a full shuffle (and
    # could even lower parallelism below the native split count).
    from ..operators.spread import spread_cpu

    pts = spread_cpu(
        t(spark, sf_dir, "events").select(
            F.col("value").cast("double").alias("x")
        )
    ).localCheckpoint(eager=True)
    # every scalar round() runs through Spark's own ROUND expression
    # (via a 1-row select), never Python's round(): the JVM and DuckDB
    # double-rounding implementations are the pair the whole oracle
    # suite has proven bit-compatible; mixing in a third would re-open
    # the boundary-case question per call.
    def jround(*exprs: object) -> list[float]:
        row = pts.sparkSession.range(1).select(
            *[F.round(F.lit(e).cast("double"), 12).alias(f"c{i}")
              for i, e in enumerate(exprs)]
        ).collect()[0]
        return [row[f"c{i}"] for i in range(len(exprs))]

    m0 = pts.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.round(F.col("x"), 2).cast("decimal(38,2)")).alias("s"),
        F.sum(F.round(F.col("x") * F.col("x"), 4).cast("decimal(38,4)")).alias(
            "ss"
        ),
    ).collect()[0]
    n = m0["n"]
    (mean,) = jround(float(m0["s"]) / n)
    (var0,) = jround(float(m0["ss"]) / n - mean * mean)
    import math

    w1, w2 = 0.5, 0.5
    mu1, mu2 = jround(mean - math.sqrt(var0), mean + math.sqrt(var0))
    v1, v2 = var0, var0

    one6 = F.lit(1).cast("decimal(38,6)")
    for _ in range(_EM_SWEEPS):
        x = F.col("x")

        def gauss(mu, v):
            return F.exp(-(x - F.lit(mu)) * (x - F.lit(mu)) / (2 * F.lit(v))) / (
                F.sqrt(F.lit(v))
            )

        g1, g2 = gauss(mu1, v1), gauss(mu2, v2)
        r2 = F.round(
            F.lit(w2) * g2 / (F.lit(w1) * g1 + F.lit(w2) * g2), 6
        ).cast("decimal(38,6)")
        e = pts.select(
            x,
            r2.alias("r2"),
        )
        s = e.agg(
            F.sum(one6 - F.col("r2")).alias("s1"),
            F.sum("r2").alias("s2"),
            F.sum(
                F.round((one6 - F.col("r2")).cast("double") * x, 8).cast(
                    "decimal(38,8)"
                )
            ).alias("s1x"),
            F.sum(
                F.round(F.col("r2").cast("double") * x, 8).cast("decimal(38,8)")
            ).alias("s2x"),
            F.sum(
                F.round(
                    (one6 - F.col("r2")).cast("double")
                    * (x - F.lit(mu1))
                    * (x - F.lit(mu1)),
                    6,
                ).cast("decimal(38,6)")
            ).alias("s1v"),
            F.sum(
                F.round(
                    F.col("r2").cast("double")
                    * (x - F.lit(mu2))
                    * (x - F.lit(mu2)),
                    6,
                ).cast("decimal(38,6)")
            ).alias("s2v"),
        ).collect()[0]
        s1, s2 = float(s["s1"]), float(s["s2"])
        w1, w2, mu1, mu2, v1, v2 = jround(
            s1 / n,
            s2 / n,
            float(s["s1x"]) / s1,
            float(s["s2x"]) / s2,
            float(s["s1v"]) / s1,
            float(s["s2v"]) / s2,
        )

    return pts.sparkSession.range(1).select(
        F.lit(n).cast("bigint").alias("n_points"),
        F.round(F.lit(w1), 6).alias("w1"),
        F.round(F.lit(w2), 6).alias("w2"),
        F.round(F.lit(mu1), 6).alias("mu1"),
        F.round(F.lit(mu2), 6).alias("mu2"),
        F.round(F.lit(math.sqrt(v1)), 6).alias("sd1"),
        F.round(F.lit(math.sqrt(v2)), 6).alias("sd2"),
    )


# ---------------------------------------------------------------------------
# Poisson regression (GLM, log link) of the daily order count on a
# normalized time trend — "is demand drifting, as a multiplicative
# rate" — fit by THREE unrolled IRLS sweeps with the EM-GMM lockstep
# discipline: per-day working weights/responses are rounded to the
# 1e-6 lattice and summed in DECIMAL, the 2x2 weighted least-squares
# solve is closed form (determinant), and every scalar update is
# JVM-rounded to 12 decimals. The regressor x = d / n_days keeps the
# design bounded in [0, 1] at any horizon. Output: intercept rate,
# trend coefficient and its rate ratio. 100 TB: the row-volume pass
# is the daily rollup; each sweep is one aggregation over the
# calendar spine with six decimal sufficient statistics.
_IRLS_SWEEPS = 3


def _sql_poisson_glm() -> str:
    ctes = [
        """daily AS MATERIALIZED (
      SELECT CAST(date_diff('day', (SELECT min(o_orderdate) FROM orders),
                            o_orderdate) AS BIGINT) AS d,
             CAST(COUNT(*) AS DOUBLE) AS y
      FROM orders GROUP BY 1
    ),
    dn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
                  CAST(max(d) AS DOUBLE) AS dmax FROM daily),
    pts AS MATERIALIZED (
      SELECT y, d / dmax AS x FROM daily CROSS JOIN dn
    ),
    p0 AS (
      SELECT round(ln(CAST(SUM(CAST(y AS DECIMAL(38,0))) AS DOUBLE)
                    / COUNT(*)), 12) AS b0,
             CAST(0 AS DOUBLE) AS b1
      FROM pts
    )"""
    ]
    for k in range(_IRLS_SWEEPS):
        ctes.append(
            f"""s{k} AS (
      SELECT
        SUM(CAST(round(exp(b0 + b1 * x), 6) AS DECIMAL(38,6))) AS sw,
        SUM(CAST(round(exp(b0 + b1 * x) * x, 6) AS DECIMAL(38,6))) AS swx,
        SUM(CAST(round(exp(b0 + b1 * x) * x * x, 6)
                 AS DECIMAL(38,6))) AS swxx,
        SUM(CAST(round(exp(b0 + b1 * x)
                       * (b0 + b1 * x
                          + (y - exp(b0 + b1 * x)) / exp(b0 + b1 * x)), 6)
                 AS DECIMAL(38,6))) AS swz,
        SUM(CAST(round(exp(b0 + b1 * x)
                       * (b0 + b1 * x
                          + (y - exp(b0 + b1 * x)) / exp(b0 + b1 * x))
                       * x, 6)
                 AS DECIMAL(38,6))) AS swxz
      FROM pts CROSS JOIN p{k}
    ),
    p{k + 1} AS (
      SELECT round((CAST(swxx AS DOUBLE) * CAST(swz AS DOUBLE)
                    - CAST(swx AS DOUBLE) * CAST(swxz AS DOUBLE))
                   / (CAST(sw AS DOUBLE) * CAST(swxx AS DOUBLE)
                      - CAST(swx AS DOUBLE) * CAST(swx AS DOUBLE)), 12)
               AS b0,
             round((CAST(sw AS DOUBLE) * CAST(swxz AS DOUBLE)
                    - CAST(swx AS DOUBLE) * CAST(swz AS DOUBLE))
                   / (CAST(sw AS DOUBLE) * CAST(swxx AS DOUBLE)
                      - CAST(swx AS DOUBLE) * CAST(swx AS DOUBLE)), 12)
               AS b1
      FROM s{k}
    )"""
        )
    return (
        "WITH "
        + ",\n    ".join(ctes)
        + f"""
    SELECT (SELECT n FROM dn) AS n_days,
           round(b0, 6) AS b0,
           round(b1, 6) AS b1,
           round(exp(b1), 6) AS rate_ratio
    FROM p{_IRLS_SWEEPS}
    """
    )


@_q("poisson_glm_trend", _sql_poisson_glm())
def q_poisson_glm_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
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
        .agg(F.count(F.lit(1)).cast("double").alias("y"))
        .localCheckpoint(eager=True)
    )
    stats = daily.agg(
        F.count(F.lit(1)).alias("n"),
        F.max("d").cast("double").alias("dmax"),
        F.sum(F.col("y").cast("decimal(38,0)")).alias("sy"),
    ).collect()[0]
    n, dmax = stats["n"], stats["dmax"]
    pts = daily.select(
        "y", (F.col("d") / F.lit(dmax)).alias("x")
    ).localCheckpoint(eager=True)

    def jround(*exprs: object) -> list[float]:
        row = pts.sparkSession.range(1).select(
            *[
                F.round(F.lit(e).cast("double"), 12).alias(f"c{i}")
                for i, e in enumerate(exprs)
            ]
        ).collect()[0]
        return [row[f"c{i}"] for i in range(len(exprs))]

    (b0,) = jround(math.log(float(stats["sy"]) / n))
    b1 = 0.0
    for _ in range(_IRLS_SWEEPS):
        x, y = F.col("x"), F.col("y")
        eta = F.lit(b0) + F.lit(b1) * x
        mu = F.exp(eta)
        z = eta + (y - mu) / mu
        s = pts.agg(
            F.sum(F.round(mu, 6).cast("decimal(38,6)")).alias("sw"),
            F.sum(F.round(mu * x, 6).cast("decimal(38,6)")).alias("swx"),
            F.sum(F.round(mu * x * x, 6).cast("decimal(38,6)")).alias("swxx"),
            F.sum(F.round(mu * z, 6).cast("decimal(38,6)")).alias("swz"),
            F.sum(F.round(mu * z * x, 6).cast("decimal(38,6)")).alias("swxz"),
        ).collect()[0]
        sw, swx, swxx = float(s["sw"]), float(s["swx"]), float(s["swxx"])
        swz, swxz = float(s["swz"]), float(s["swxz"])
        det = sw * swxx - swx * swx
        b0, b1 = jround(
            (swxx * swz - swx * swxz) / det, (sw * swxz - swx * swz) / det
        )
    return pts.sparkSession.range(1).select(
        F.lit(n).cast("bigint").alias("n_days"),
        F.round(F.lit(b0), 6).alias("b0"),
        F.round(F.lit(b1), 6).alias("b1"),
        F.round(F.exp(F.lit(b1)), 6).alias("rate_ratio"),
    )


# ---------------------------------------------------------------------------
# Atkinson inequality index (epsilon = 1) of customer order spend —
# the welfare-grounded sibling of theil_index_decomposition and
# gini_part_revenue: A_1 = 1 - geomean(spend) / mean(spend), where
# the inequality-aversion parameter makes the index the fraction of
# total spend society would give up for perfect equality. The mean is
# decimal-exact; the geometric mean is exp of a per-row
# 1e-12-lattice-rounded ln summed in DECIMAL (the chi2 lockstep
# pattern), so the one irrational reduction cannot drift. Customers
# with zero/negative balance never arise (spend > 0 by construction:
# o_totalprice > 0). One groupBy + one aggregate — trivially 100 TB.
@_q(
    "atkinson_inequality_index",
    """
    WITH spend AS (
      SELECT o_custkey,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
                  AS DECIMAL(38,2)) AS s
      FROM orders GROUP BY o_custkey
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_customers,
           round(CAST(SUM(s) AS DOUBLE) / COUNT(*), 6) AS mean_spend,
           round(exp(CAST(SUM(CAST(round(ln(CAST(s AS DOUBLE)), 12)
                                   AS DECIMAL(38,12))) AS DOUBLE)
                     / COUNT(*)), 6) AS geomean_spend,
           round(1 - exp(CAST(SUM(CAST(round(ln(CAST(s AS DOUBLE)), 12)
                                       AS DECIMAL(38,12))) AS DOUBLE)
                         / COUNT(*))
                   / (CAST(SUM(s) AS DOUBLE) / COUNT(*)), 6) AS atkinson_1
    FROM spend
    """,
)
def q_atkinson_inequality_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = t(spark, sf_dir, "orders")
    spend = orders.groupBy("o_custkey").agg(
        F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
        .cast("decimal(38,2)")
        .alias("s")
    )
    lnsum = F.sum(
        F.round(F.log(F.col("s").cast("double")), 12).cast("decimal(38,12)")
    ).cast("double")
    n = F.count(F.lit(1))
    mean = F.sum("s").cast("double") / n
    geo = F.exp(lnsum / n)
    return spend.agg(
        n.cast("bigint").alias("n_customers"),
        F.round(mean, 6).alias("mean_spend"),
        F.round(geo, 6).alias("geomean_spend"),
        F.round(1 - geo / mean, 6).alias("atkinson_1"),
    )


# ---------------------------------------------------------------------------
# OPTIMAL 1-D k-means (k = 1, 2, 3) by dynamic programming over the
# sorted distinct-value domain (Wang & Song, R Journal 2011) — the
# exact elbow curve Lloyd's heuristic (kmeans_clusters) cannot
# certify: clusters of a 1-D optimum are contiguous runs of sorted
# values, so DP over (prefix, clusters) finds the TRUE minimum SSE.
# The engine story: customer balances quantize to a bounded bucket
# domain (one groupBy — the only row-volume pass), weighted prefix
# sums make every interval cost O(1), and the DP levels are two
# broadcast-sized (i <= j) pair joins with decimal-rounded costs
# (round 6 -> DECIMAL min, so the argmin comparison is identical in
# both engines). Output: optimal SSE at k = 1, 2, 3 — the certified
# curve a Lloyd run can be audited against.
@_q(
    "optimal_kmeans_1d",
    """
    WITH vals AS (
      SELECT CAST(floor(c_acctbal / 100.0) AS BIGINT) AS v,
             CAST(COUNT(*) AS BIGINT) AS w
      FROM customer GROUP BY 1
    ),
    ordered AS (
      SELECT v, w,
             row_number() OVER (ORDER BY v) AS i,
             SUM(w) OVER (ORDER BY v) AS cw,
             SUM(w * v) OVER (ORDER BY v) AS cs,
             SUM(w * v * v) OVER (ORDER BY v) AS css
      FROM vals
    ),
    pre AS (SELECT i, cw, cs, css FROM ordered),
    m AS (SELECT max(i) AS m FROM pre),
    cost AS (
      SELECT a.i AS lo, b.i AS hi,
             CAST(round(
               (b.css - COALESCE(p.css, 0))
               - CAST((b.cs - COALESCE(p.cs, 0))
                      * (b.cs - COALESCE(p.cs, 0)) AS DOUBLE)
                 / (b.cw - COALESCE(p.cw, 0)), 6) AS DECIMAL(38,6)) AS c
      FROM pre a JOIN pre b ON b.i >= a.i
      LEFT JOIN pre p ON p.i = a.i - 1
    ),
    d1 AS (SELECT hi AS j, c AS dp FROM cost WHERE lo = 1),
    d2 AS (
      SELECT c.hi AS j, MIN(d.dp + c.c) AS dp
      FROM cost c JOIN d1 d ON d.j = c.lo - 1
      GROUP BY c.hi
    ),
    d3 AS (
      SELECT c.hi AS j, MIN(d.dp + c.c) AS dp
      FROM cost c JOIN d2 d ON d.j = c.lo - 1
      GROUP BY c.hi
    )
    SELECT k, CAST(n_values AS BIGINT) AS n_values,
           round(CAST(opt_sse AS DOUBLE), 4) AS opt_sse
    FROM (
      SELECT 1 AS k, m.m AS n_values, d1.dp AS opt_sse
      FROM d1 CROSS JOIN m WHERE d1.j = m.m
      UNION ALL
      SELECT 2, m.m, d2.dp FROM d2 CROSS JOIN m WHERE d2.j = m.m
      UNION ALL
      SELECT 3, m.m, d3.dp FROM d3 CROSS JOIN m WHERE d3.j = m.m
    ) ORDER BY k
    """,
)
def q_optimal_kmeans_1d(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = t(spark, sf_dir, "customer")
    vals = cust.groupBy(
        F.floor(F.col("c_acctbal") / 100.0).cast("bigint").alias("v")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("w"))
    w_ord = Window.orderBy("v")
    ordered = vals.select(
        "v",
        "w",
        F.row_number().over(w_ord).alias("i"),
        F.sum("w").over(w_ord).alias("cw"),
        F.sum(F.col("w") * F.col("v")).over(w_ord).alias("cs"),
        F.sum(F.col("w") * F.col("v") * F.col("v")).over(w_ord).alias("css"),
    ).localCheckpoint(eager=True)
    pre = ordered.select("i", "cw", "cs", "css")
    a = pre.select(F.col("i").alias("lo"))
    b = pre.select(
        F.col("i").alias("hi"),
        F.col("cw").alias("bcw"),
        F.col("cs").alias("bcs"),
        F.col("css").alias("bcss"),
    )
    p = pre.select(
        (F.col("i") + 1).alias("pi"),
        F.col("cw").alias("pcw"),
        F.col("cs").alias("pcs"),
        F.col("css").alias("pcss"),
    )
    dcs = F.col("bcs") - F.coalesce(F.col("pcs"), F.lit(0))
    cost = (
        a.join(b, F.col("hi") >= F.col("lo"))
        .join(p, F.col("pi") == F.col("lo"), "left")
        .select(
            "lo",
            "hi",
            F.round(
                (F.col("bcss") - F.coalesce(F.col("pcss"), F.lit(0)))
                - (dcs * dcs).cast("double")
                / (F.col("bcw") - F.coalesce(F.col("pcw"), F.lit(0))),
                6,
            )
            .cast("decimal(38,6)")
            .alias("c"),
        )
        .localCheckpoint(eager=True)
    )
    m = pre.agg(F.max("i").alias("m"))
    d = cost.where(F.col("lo") == 1).select(F.col("hi").alias("j"), F.col("c").alias("dp"))
    levels = {1: d}
    for k in (2, 3):
        prev = levels[k - 1].select(F.col("j").alias("pj"), F.col("dp").alias("pdp"))
        levels[k] = (
            cost.join(prev, F.col("pj") == F.col("lo") - 1)
            .groupBy(F.col("hi").alias("j"))
            .agg(F.min(F.col("pdp") + F.col("c")).alias("dp"))
        )
    outs = []
    for k in (1, 2, 3):
        outs.append(
            levels[k]
            .crossJoin(F.broadcast(m))
            .where(F.col("j") == F.col("m"))
            .select(
                F.lit(k).cast("int").alias("k"),
                F.col("m").cast("bigint").alias("n_values"),
                F.round(F.col("dp").cast("double"), 4).alias("opt_sse"),
            )
        )
    out = outs[0]
    for x in outs[1:]:
        out = out.unionByName(x)
    return out.orderBy("k")


# ---------------------------------------------------------------------------
# Lorenz curve deciles — the distributional picture behind the
# scalar inequality indices (gini_part_revenue, theil decomposition,
# atkinson): customers sorted by total spend split into ten
# equal-population bins (explicit ceil(10*rank/n) = (10r+n-1)//n, not
# ntile, so both engines share one bin rule), each reporting its
# exact-decimal spend share and the cumulative Lorenz ordinate. The
# registry's 500th oracle-paired query: one groupBy, one window
# rank, one decimal rollup — deliberately the shape the whole suite
# is built from.
@_q(
    "lorenz_curve_deciles",
    """
    WITH spend AS (
      SELECT o_custkey, CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
                             AS DECIMAL(38,2)) AS s
      FROM orders GROUP BY o_custkey
    ),
    ranked AS (
      SELECT s,
             CAST((10 * row_number()
                     OVER (ORDER BY s, o_custkey)
                   + (SELECT COUNT(*) FROM spend) - 1)
                  // (SELECT COUNT(*) FROM spend) AS BIGINT) AS decile
      FROM spend
    ),
    bins AS (
      SELECT decile, CAST(COUNT(*) AS BIGINT) AS n_customers,
             CAST(SUM(s) AS DECIMAL(38,2)) AS bin_spend
      FROM ranked GROUP BY decile
    ),
    tot AS (SELECT CAST(SUM(s) AS DECIMAL(38,2)) AS t FROM spend)
    SELECT decile, n_customers,
           round(CAST(bin_spend AS DOUBLE) / CAST(t AS DOUBLE), 9)
             AS spend_share,
           round(CAST(SUM(bin_spend) OVER (ORDER BY decile) AS DOUBLE)
                 / CAST(t AS DOUBLE), 9) AS lorenz_cum
    FROM bins CROSS JOIN tot ORDER BY decile
    """,
)
def q_lorenz_curve_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = t(spark, sf_dir, "orders")
    spend = orders.groupBy("o_custkey").agg(
        F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
        .cast("decimal(38,2)")
        .alias("s")
    )
    n = spend.agg(F.count(F.lit(1)).alias("n"))
    w = Window.orderBy("s", "o_custkey")
    ranked = (
        spend.crossJoin(F.broadcast(n))
        .select(
            "s",
            F.floor(
                (10 * F.row_number().over(w) + F.col("n") - 1) / F.col("n")
            )
            .cast("bigint")
            .alias("decile"),
        )
    )
    bins = ranked.groupBy("decile").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_customers"),
        F.sum("s").cast("decimal(38,2)").alias("bin_spend"),
    )
    tot = spend.agg(F.sum("s").cast("decimal(38,2)").alias("t"))
    wc = Window.orderBy("decile").rowsBetween(Window.unboundedPreceding, 0)
    return (
        bins.crossJoin(F.broadcast(tot))
        .select(
            "decile",
            "n_customers",
            F.round(
                F.col("bin_spend").cast("double") / F.col("t").cast("double"),
                9,
            ).alias("spend_share"),
            F.round(
                F.sum("bin_spend").over(wc).cast("double")
                / F.col("t").cast("double"),
                9,
            ).alias("lorenz_cum"),
        )
        .orderBy("decile")
    )


# ---------------------------------------------------------------------------
# Weibull reliability fit by median-rank regression — the standard
# engineering estimate of failure-time shape/scale when you want the
# Weibull PLOT, not an MLE: uncensored user lifetimes t_(i) (days
# from first to last event, zero-lifetime users excluded as
# instantaneous) get Bernard median ranks F_i = (i - 0.3)/(n + 0.4),
# and ln(-ln(1 - F_i)) regresses on ln t_(i); slope = shape k,
# exp(-icpt/k) = scale lambda. Order statistics are exact (window
# rank, full tiebreak); the regression is the lockstep closed form
# (1e-12-lattice log terms, decimal sufficient statistics). Output:
# k, lambda, and n.
@_q(
    "weibull_fit_lifetimes",
    """
    WITH life AS (
      SELECT user_id,
             CAST(datediff('day', CAST(MIN(ts) AS DATE),
                           CAST(MAX(ts) AS DATE)) AS BIGINT) AS t
      FROM events GROUP BY user_id
    ),
    ranked AS (
      SELECT CAST(t AS DOUBLE) AS t,
             row_number() OVER (ORDER BY t, user_id) AS i,
             COUNT(*) OVER () AS n
      FROM life WHERE t > 0
    ),
    obs AS (
      SELECT ln(t) AS lx,
             ln(-ln(1 - (i - 0.3) / (n + 0.4))) AS ly
      FROM ranked
    ),
    mom AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS nn,
             CAST(SUM(CAST(round(lx, 12) AS DECIMAL(38,12))) AS DOUBLE) AS sx,
             CAST(SUM(CAST(round(lx * lx, 12) AS DECIMAL(38,12)))
                  AS DOUBLE) AS sxx,
             CAST(SUM(CAST(round(ly, 12) AS DECIMAL(38,12))) AS DOUBLE) AS sy,
             CAST(SUM(CAST(round(lx * ly, 12) AS DECIMAL(38,12)))
                  AS DOUBLE) AS sxy
      FROM obs
    )
    SELECT nn AS n_lifetimes,
           round((nn * sxy - sx * sy) / (nn * sxx - sx * sx), 6)
             AS shape_k,
           round(exp(-((sy - (nn * sxy - sx * sy)
                        / (nn * sxx - sx * sx) * sx) / nn)
                     / ((nn * sxy - sx * sy) / (nn * sxx - sx * sx))), 6)
             AS scale_lambda
    FROM mom
    """,
)
def q_weibull_fit_lifetimes(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events")
    life = ev.groupBy("user_id").agg(
        F.datediff(F.max("ts").cast("date"), F.min("ts").cast("date"))
        .cast("bigint")
        .alias("t")
    ).where(F.col("t") > 0)
    w = Window.orderBy("t", "user_id")
    wn = Window.partitionBy()
    ranked = life.select(
        F.col("t").cast("double").alias("t"),
        F.row_number().over(w).alias("i"),
        F.count(F.lit(1)).over(wn).alias("n"),
    )
    obs = ranked.select(
        F.log("t").alias("lx"),
        F.log(
            -F.log(1 - (F.col("i") - 0.3) / (F.col("n") + 0.4))
        ).alias("ly"),
    )
    d12 = lambda c: F.round(c, 12).cast("decimal(38,12)")  # noqa: E731
    mom = obs.agg(
        F.count(F.lit(1)).cast("bigint").alias("nn"),
        F.sum(d12(F.col("lx"))).cast("double").alias("sx"),
        F.sum(d12(F.col("lx") * F.col("lx"))).cast("double").alias("sxx"),
        F.sum(d12(F.col("ly"))).cast("double").alias("sy"),
        F.sum(d12(F.col("lx") * F.col("ly"))).cast("double").alias("sxy"),
    )
    slope = (F.col("nn") * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        F.col("nn") * F.col("sxx") - F.col("sx") * F.col("sx")
    )
    icpt = (F.col("sy") - slope * F.col("sx")) / F.col("nn")
    return mom.select(
        F.col("nn").alias("n_lifetimes"),
        F.round(slope, 6).alias("shape_k"),
        F.round(F.exp(-icpt / slope), 6).alias("scale_lambda"),
    )


# ---------------------------------------------------------------------------
# Wilcoxon signed-rank test (Wilcoxon 1945) — the PAIRED counterpart
# of mann_whitney_u: per-customer order counts in 1995 vs 1996, zero
# differences dropped, |d| average-ranked with the tie correction.
# Exactness ladder: d is an integer count difference; DOUBLED average
# ranks 2r = 2·cum_before + t + 1 stay integer, so W2 = 2·W+ and the
# tie term Σ(t³−t) are exact BIGINT/HUGEINT sums; z is one closed-form
# double expression from exact integers. Plan: one groupBy(custkey)
# aggregate, one per-distinct-|d| window (cardinality = |distinct
# diffs|, not customers), one 1-row reduce — the MWU shuffle shape.
@_q(
    "wilcoxon_signed_rank",
    """
    WITH pair AS (
      SELECT o_custkey,
             COUNT(*) FILTER (WHERE EXTRACT(year FROM o_orderdate) = 1995)
               AS a,
             COUNT(*) FILTER (WHERE EXTRACT(year FROM o_orderdate) = 1996)
               AS b
      FROM orders GROUP BY 1
    ),
    dd AS (
      SELECT CAST(a AS BIGINT) - CAST(b AS BIGINT) AS d
      FROM pair WHERE a <> b
    ),
    per_v AS (
      SELECT abs(d) AS v, COUNT(*) AS t,
             COUNT(*) FILTER (WHERE d > 0) AS tp
      FROM dd GROUP BY 1
    ),
    cum AS (
      SELECT v, t, tp,
             COALESCE(SUM(t) OVER (ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cb
      FROM per_v
    ),
    agg AS (
      SELECT CAST(SUM(t) AS BIGINT) AS n,
             CAST(SUM(tp * (2 * cb + t + 1)) AS BIGINT) AS w2,
             CAST(SUM(t * t * t - t) AS BIGINT) AS ties
      FROM cum
    )
    SELECT n AS n_pairs,
           CAST(w2 AS DOUBLE) / 2 AS w_plus,
           round((CAST(w2 AS DOUBLE) - CAST(n * (n + 1) AS DOUBLE) / 2)
                 / sqrt(CAST(n AS DOUBLE) * (n + 1) * (2 * n + 1) / 6
                        - CAST(ties AS DOUBLE) / 12), 6) AS z_stat
    FROM agg
    """,
)
def q_wilcoxon_signed_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = t(spark, sf_dir, "orders")
    yr = F.year(F.col("o_orderdate").cast("date"))
    pair = o.groupBy("o_custkey").agg(
        F.sum(F.when(yr == 1995, 1).otherwise(0)).alias("a"),
        F.sum(F.when(yr == 1996, 1).otherwise(0)).alias("b"),
    )
    dd = pair.where(F.col("a") != F.col("b")).select(
        (F.col("a").cast("bigint") - F.col("b").cast("bigint")).alias("d")
    )
    per_v = dd.groupBy(F.abs(F.col("d")).alias("v")).agg(
        F.count(F.lit(1)).alias("t"),
        F.sum(F.when(F.col("d") > 0, 1).otherwise(0)).alias("tp"),
    )
    w = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, -1)
    cum = per_v.select(
        "v", "t", "tp", F.coalesce(F.sum("t").over(w), F.lit(0)).alias("cb")
    )
    agg = cum.agg(
        F.sum("t").cast("bigint").alias("n"),
        F.sum(F.col("tp") * (2 * F.col("cb") + F.col("t") + 1))
        .cast("bigint")
        .alias("w2"),
        F.sum(F.col("t") * F.col("t") * F.col("t") - F.col("t"))
        .cast("bigint")
        .alias("ties"),
    )
    n = F.col("n")
    return agg.select(
        n.alias("n_pairs"),
        (F.col("w2").cast("double") / 2).alias("w_plus"),
        F.round(
            (F.col("w2").cast("double") - (n * (n + 1)).cast("double") / 2)
            / F.sqrt(
                n.cast("double") * (n + 1) * (2 * n + 1) / 6
                - F.col("ties").cast("double") / 12
            ),
            6,
        ).alias("z_stat"),
    )


# ---------------------------------------------------------------------------
# 2x2 contingency battery — odds ratio, two-proportion z, and the
# Yates-corrected chi-square on one table: BUILDING-segment membership
# x urgent-priority orders. All three statistics are single closed
# forms over four exact BIGINT cell counts; one join + one scan.
@_q(
    "two_by_two_tests",
    """
    WITH cells AS (
      SELECT
        CAST(SUM(CASE WHEN seg = 1 AND urgent = 1 THEN 1 ELSE 0 END)
             AS BIGINT) AS a,
        CAST(SUM(CASE WHEN seg = 1 AND urgent = 0 THEN 1 ELSE 0 END)
             AS BIGINT) AS b,
        CAST(SUM(CASE WHEN seg = 0 AND urgent = 1 THEN 1 ELSE 0 END)
             AS BIGINT) AS c,
        CAST(SUM(CASE WHEN seg = 0 AND urgent = 0 THEN 1 ELSE 0 END)
             AS BIGINT) AS d
      FROM (
        SELECT CASE WHEN c.c_mktsegment = 'BUILDING' THEN 1 ELSE 0 END
                 AS seg,
               CASE WHEN o.o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END
                 AS urgent
        FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
      )
    )
    SELECT a, b, c, d,
           round(CAST(a AS DOUBLE) * d / (CAST(b AS DOUBLE) * c), 6)
             AS odds_ratio,
           round((CAST(a AS DOUBLE) / (a + b) - CAST(c AS DOUBLE) / (c + d))
                 / sqrt((CAST(a + c AS DOUBLE) / (a + b + c + d))
                        * (1 - CAST(a + c AS DOUBLE) / (a + b + c + d))
                        * (1.0 / (a + b) + 1.0 / (c + d))), 6) AS z_prop,
           round(CAST(a + b + c + d AS DOUBLE)
                 * POWER(abs(CAST(a AS DOUBLE) * d - CAST(b AS DOUBLE) * c)
                         - CAST(a + b + c + d AS DOUBLE) / 2, 2)
                 / (CAST(a + b AS DOUBLE) * (c + d) * (a + c) * (b + d)),
                 6) AS chi2_yates
    FROM cells
    """,
)
def q_two_by_two_tests(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = t(spark, sf_dir, "orders")
    cu = t(spark, sf_dir, "customer")
    j = o.join(cu, o["o_custkey"] == cu["c_custkey"]).select(
        F.when(F.col("c_mktsegment") == "BUILDING", 1).otherwise(0).alias(
            "seg"
        ),
        F.when(F.col("o_orderpriority") == "1-URGENT", 1).otherwise(0).alias(
            "urgent"
        ),
    )
    cells = j.agg(
        F.sum(F.when((F.col("seg") == 1) & (F.col("urgent") == 1), 1).otherwise(0))
        .cast("bigint")
        .alias("a"),
        F.sum(F.when((F.col("seg") == 1) & (F.col("urgent") == 0), 1).otherwise(0))
        .cast("bigint")
        .alias("b"),
        F.sum(F.when((F.col("seg") == 0) & (F.col("urgent") == 1), 1).otherwise(0))
        .cast("bigint")
        .alias("c"),
        F.sum(F.when((F.col("seg") == 0) & (F.col("urgent") == 0), 1).otherwise(0))
        .cast("bigint")
        .alias("d"),
    )
    a, b, c, d = (F.col(x) for x in "abcd")
    n = a + b + c + d
    p_pool = (a + c).cast("double") / n
    return cells.select(
        "a",
        "b",
        "c",
        "d",
        F.round(a.cast("double") * d / (b.cast("double") * c), 6).alias(
            "odds_ratio"
        ),
        F.round(
            (a.cast("double") / (a + b) - c.cast("double") / (c + d))
            / F.sqrt(
                p_pool
                * (1 - p_pool)
                * (F.lit(1.0) / (a + b) + F.lit(1.0) / (c + d))
            ),
            6,
        ).alias("z_prop"),
        F.round(
            n.cast("double")
            * F.pow(
                F.abs(a.cast("double") * d - b.cast("double") * c)
                - n.cast("double") / 2,
                2,
            )
            / ((a + b).cast("double") * (c + d) * (a + c) * (b + d)),
            6,
        ).alias("chi2_yates"),
    )


# ---------------------------------------------------------------------------
# Negative-binomial method-of-moments fit over per-user event counts —
# the overdispersion model behind retention/engagement count data
# (Poisson is rejected when var >> mean; r̂ = m²/(v−m), p̂ = m/v).
# Exactness: per-user counts are integers; Σc and Σc² are exact
# BIGINT; m and the UNBIASED v are single closed-form doubles.
@_q(
    "negative_binomial_moments",
    """
    WITH per_u AS (
      SELECT user_id, COUNT(*) AS c FROM events GROUP BY 1
    ),
    mom AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(c) AS BIGINT) AS s,
             CAST(SUM(c * c) AS BIGINT) AS ss
      FROM per_u
    )
    SELECT n AS n_users,
           round(CAST(s AS DOUBLE) / n, 6) AS mean_events,
           round((CAST(n AS DOUBLE) * ss - CAST(s AS DOUBLE) * s)
                 / (CAST(n AS DOUBLE) * (n - 1)), 6) AS var_events,
           round(POWER(CAST(s AS DOUBLE) / n, 2)
                 / ((CAST(n AS DOUBLE) * ss - CAST(s AS DOUBLE) * s)
                    / (CAST(n AS DOUBLE) * (n - 1))
                    - CAST(s AS DOUBLE) / n), 6) AS r_hat,
           round((CAST(s AS DOUBLE) / n)
                 / ((CAST(n AS DOUBLE) * ss - CAST(s AS DOUBLE) * s)
                    / (CAST(n AS DOUBLE) * (n - 1))), 6) AS p_hat
    FROM mom
    """,
)
def q_negative_binomial_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events")
    per_u = ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("c"))
    mom = per_u.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("c").cast("bigint").alias("s"),
        F.sum(F.col("c") * F.col("c")).cast("bigint").alias("ss"),
    )
    n = F.col("n").cast("double")
    s = F.col("s").cast("double")
    ss = F.col("ss")
    m = F.col("s").cast("double") / F.col("n")
    v = (n * ss - s * F.col("s")) / (n * (F.col("n") - 1))
    return mom.select(
        F.col("n").alias("n_users"),
        F.round(m, 6).alias("mean_events"),
        F.round(v, 6).alias("var_events"),
        F.round(F.pow(m, 2) / (v - m), 6).alias("r_hat"),
        F.round(m / v, 6).alias("p_hat"),
    )


# ---------------------------------------------------------------------------
# Bartlett's variance-homogeneity test (Bartlett 1937) across order
# priorities — the parametric sibling of brown_forsythe_test (which
# see for the robust variant). Per-group (n, Σy, Σy²) accumulate as
# DECIMAL(38,0) on the cents lattice (Σy² overflows BIGINT); each
# group's unbiased s²_g = (n·Σy² − (Σy)²)/(n(n−1)) is a double from
# exact integers; ln() is applied once per group to identical inputs
# and the k-term sums are round(12)-lattice DECIMAL (order-free).
# Plan: one scan -> 5-group aggregate -> 1-row closed form.
@_q(
    "bartlett_test",
    """
    WITH g AS (
      SELECT o_orderpriority AS grp,
             CAST(COUNT(*) AS BIGINT) AS n,
             SUM(CAST(round(o_totalprice * 100) AS HUGEINT)) AS s,
             SUM(CAST(round(o_totalprice * 100) AS HUGEINT)
                 * CAST(round(o_totalprice * 100) AS HUGEINT)) AS ss
      FROM orders GROUP BY 1
    ),
    pg AS (
      SELECT grp, n,
             (CAST(n AS DOUBLE) * CAST(ss AS DOUBLE)
              - CAST(s AS DOUBLE) * CAST(s AS DOUBLE))
             / (CAST(n AS DOUBLE) * (n - 1)) AS s2
      FROM g
    ),
    agg AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS k,
             CAST(SUM(n) AS BIGINT) AS ntot,
             CAST(SUM(CAST(round((n - 1) * s2, 6) AS DECIMAL(38,6)))
               AS DOUBLE) AS pooled_num,
             CAST(SUM(CAST(round((n - 1) * ln(s2), 12) AS DECIMAL(38,12)))
               AS DOUBLE) AS sum_lns,
             CAST(SUM(CAST(round(1.0 / (n - 1), 12) AS DECIMAL(38,12)))
               AS DOUBLE) AS sum_inv
      FROM pg
    )
    SELECT k AS n_groups, ntot AS n_total,
           round(((ntot - k) * ln(pooled_num / (ntot - k)) - sum_lns)
                 / (1 + (sum_inv - 1.0 / (ntot - k)) / (3.0 * (k - 1))),
                 6) AS bartlett_stat
    FROM agg
    """,
)
def q_bartlett_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = t(spark, sf_dir, "orders")
    cents = F.round(F.col("o_totalprice") * 100).cast("decimal(38,0)")
    g = o.groupBy(F.col("o_orderpriority").alias("grp")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(cents).alias("s"),
        F.sum(cents * cents).alias("ss"),
    )
    n = F.col("n")
    s2 = (
        n.cast("double") * F.col("ss").cast("double")
        - F.col("s").cast("double") * F.col("s").cast("double")
    ) / (n.cast("double") * (n - 1))
    pg = g.select("grp", "n", s2.alias("s2"))
    agg = pg.agg(
        F.count(F.lit(1)).cast("bigint").alias("k"),
        F.sum("n").cast("bigint").alias("ntot"),
        F.sum(F.round((n - 1) * F.col("s2"), 6).cast("decimal(38,6)"))
        .cast("double")
        .alias("pooled_num"),
        F.sum(
            F.round((n - 1) * F.log(F.col("s2")), 12).cast("decimal(38,12)")
        )
        .cast("double")
        .alias("sum_lns"),
        F.sum(
            F.round(F.lit(1.0) / (n - 1), 12).cast("decimal(38,12)")
        )
        .cast("double")
        .alias("sum_inv"),
    )
    k, ntot = F.col("k"), F.col("ntot")
    return agg.select(
        k.alias("n_groups"),
        ntot.alias("n_total"),
        F.round(
            (
                (ntot - k) * F.log(F.col("pooled_num") / (ntot - k))
                - F.col("sum_lns")
            )
            / (
                1
                + (F.col("sum_inv") - F.lit(1.0) / (ntot - k))
                / (F.lit(3.0) * (k - 1))
            ),
            6,
        ).alias("bartlett_stat"),
    )


# ---------------------------------------------------------------------------
# Variance inflation factors for the lineitem regressor triple
# (quantity, extendedprice, discount) — the multicollinearity audit
# run before any of the regression-family queries. With 3 regressors
# the correlation-matrix inverse has a closed form: det = 1 − r12² −
# r13² − r23² + 2·r12·r13·r23; VIF_1 = (1−r23²)/det (cyclically).
# Correlations come from exact N-scaled integer moments on the
# cents/hundredths lattices (DECIMAL(38,0) sums, the pacf seam):
# corr = (N·Σxy − ΣxΣy) / sqrt((N·Σx²−(Σx)²)(N·Σy²−(Σy)²)). One scan,
# one 1-row closed form; nothing but 10 integers crosses the wire.
@_q(
    "vif_multicollinearity",
    """
    WITH z AS (
      SELECT CAST(l_quantity AS HUGEINT) AS x1,
             CAST(round(l_extendedprice * 100) AS HUGEINT) AS x2,
             CAST(round(l_discount * 100) AS HUGEINT) AS x3
      FROM lineitem
    ),
    m AS (
      SELECT CAST(COUNT(*) AS HUGEINT) AS n,
             SUM(x1) AS s1, SUM(x2) AS s2, SUM(x3) AS s3,
             SUM(x1 * x1) AS s11, SUM(x2 * x2) AS s22, SUM(x3 * x3) AS s33,
             SUM(x1 * x2) AS s12, SUM(x1 * x3) AS s13, SUM(x2 * x3) AS s23
      FROM z
    ),
    r AS (
      SELECT
        CAST(n * s12 - s1 * s2 AS DOUBLE)
          / sqrt(CAST(n * s11 - s1 * s1 AS DOUBLE)
                 * CAST(n * s22 - s2 * s2 AS DOUBLE)) AS r12,
        CAST(n * s13 - s1 * s3 AS DOUBLE)
          / sqrt(CAST(n * s11 - s1 * s1 AS DOUBLE)
                 * CAST(n * s33 - s3 * s3 AS DOUBLE)) AS r13,
        CAST(n * s23 - s2 * s3 AS DOUBLE)
          / sqrt(CAST(n * s22 - s2 * s2 AS DOUBLE)
                 * CAST(n * s33 - s3 * s3 AS DOUBLE)) AS r23
      FROM m
    ),
    dd AS (
      SELECT r12, r13, r23,
             1 - r12 * r12 - r13 * r13 - r23 * r23
               + 2 * r12 * r13 * r23 AS det
      FROM r
    )
    SELECT * FROM (
      SELECT 'quantity' AS regressor,
             round((1 - r23 * r23) / det, 6) AS vif FROM dd
      UNION ALL
      SELECT 'extendedprice', round((1 - r13 * r13) / det, 6) FROM dd
      UNION ALL
      SELECT 'discount', round((1 - r12 * r12) / det, 6) FROM dd
    ) ORDER BY regressor
    """,
)
def q_vif_multicollinearity(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem")
    z = li.select(
        F.col("l_quantity").cast("decimal(38,0)").alias("x1"),
        F.round(F.col("l_extendedprice") * 100).cast("decimal(38,0)").alias(
            "x2"
        ),
        F.round(F.col("l_discount") * 100).cast("decimal(38,0)").alias("x3"),
    )
    m = z.agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("n"),
        F.sum("x1").alias("s1"),
        F.sum("x2").alias("s2"),
        F.sum("x3").alias("s3"),
        F.sum(F.col("x1") * F.col("x1")).alias("s11"),
        F.sum(F.col("x2") * F.col("x2")).alias("s22"),
        F.sum(F.col("x3") * F.col("x3")).alias("s33"),
        F.sum(F.col("x1") * F.col("x2")).alias("s12"),
        F.sum(F.col("x1") * F.col("x3")).alias("s13"),
        F.sum(F.col("x2") * F.col("x3")).alias("s23"),
    ).collect()[0]
    # exact Python ints (Decimal default context would round at 28
    # significant digits; N·Σx² reaches ~28 digits at sf1)
    n = int(m["n"])
    v = {k: int(m[k]) for k in
         ("s1", "s2", "s3", "s11", "s22", "s33", "s12", "s13", "s23")}
    import math as _math

    def _corr(sij, si, sj, sii, sjj):
        return float(n * sij - si * sj) / _math.sqrt(
            float(n * sii - si * si) * float(n * sjj - sj * sj)
        )

    r12 = _corr(v["s12"], v["s1"], v["s2"], v["s11"], v["s22"])
    r13 = _corr(v["s13"], v["s1"], v["s3"], v["s11"], v["s33"])
    r23 = _corr(v["s23"], v["s2"], v["s3"], v["s22"], v["s33"])
    det = 1 - r12 * r12 - r13 * r13 - r23 * r23 + 2 * r12 * r13 * r23
    rows = [
        ("discount", round((1 - r12 * r12) / det, 6)),
        ("extendedprice", round((1 - r13 * r13) / det, 6)),
        ("quantity", round((1 - r23 * r23) / det, 6)),
    ]
    return li.sparkSession.createDataFrame(
        rows, "regressor string, vif double"
    ).orderBy("regressor")


# ---------------------------------------------------------------------------
# Granger causality, 1 lag (Granger 1969): does yesterday's ORDER
# COUNT improve today's REVENUE forecast beyond yesterday's revenue?
# Rather than inverting a 3x3 normal-equations matrix, the F-statistic
# comes from the Frisch–Waugh–Lovell partialling-out identity:
# F = (n−3)·r_p²/(1−r_p²), with r_p the partial correlation of y and
# x_{t−1} given y_{t−1} — three pairwise correlations, each a double
# from exact N-scaled DECIMAL(38,0) moments (the pacf_durbin_levinson
# seam). Plan: one daily aggregate, one lag() pass over the bounded
# day spine, one 10-integer reduce; the algebra is free.
@_q(
    "granger_causality_f",
    """
    WITH daily AS (
      SELECT CAST(o_orderdate AS DATE) AS d,
             CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS y,
             CAST(COUNT(*) AS BIGINT) AS x
      FROM orders GROUP BY 1
    ),
    lagd AS (
      SELECT y,
             lag(y) OVER (ORDER BY d) AS y1,
             lag(x) OVER (ORDER BY d) AS x1
      FROM daily
    ),
    rows_ AS (SELECT y, y1, x1 FROM lagd WHERE y1 IS NOT NULL),
    m AS (
      SELECT CAST(COUNT(*) AS HUGEINT) AS n,
             SUM(CAST(y AS HUGEINT)) AS sy,
             SUM(CAST(y1 AS HUGEINT)) AS s1,
             SUM(CAST(x1 AS HUGEINT)) AS sx,
             SUM(CAST(y AS HUGEINT) * y) AS syy,
             SUM(CAST(y1 AS HUGEINT) * y1) AS s11,
             SUM(CAST(x1 AS HUGEINT) * x1) AS sxx,
             SUM(CAST(y AS HUGEINT) * y1) AS sy1,
             SUM(CAST(y AS HUGEINT) * x1) AS syx,
             SUM(CAST(y1 AS HUGEINT) * x1) AS s1x
      FROM rows_
    ),
    r AS (
      SELECT CAST(n AS BIGINT) AS n,
        CAST(n * sy1 - sy * s1 AS DOUBLE)
          / sqrt(CAST(n * syy - sy * sy AS DOUBLE)
                 * CAST(n * s11 - s1 * s1 AS DOUBLE)) AS r_y1,
        CAST(n * syx - sy * sx AS DOUBLE)
          / sqrt(CAST(n * syy - sy * sy AS DOUBLE)
                 * CAST(n * sxx - sx * sx AS DOUBLE)) AS r_yx,
        CAST(n * s1x - s1 * sx AS DOUBLE)
          / sqrt(CAST(n * s11 - s1 * s1 AS DOUBLE)
                 * CAST(n * sxx - sx * sx AS DOUBLE)) AS r_1x
      FROM m
    ),
    p AS (
      SELECT n, r_y1, r_yx, r_1x,
             (r_yx - r_y1 * r_1x)
               / sqrt((1 - r_y1 * r_y1) * (1 - r_1x * r_1x)) AS r_p
      FROM r
    )
    SELECT n AS n_obs,
           round(r_y1, 6) AS r_autocorr,
           round(r_p, 6) AS r_partial,
           round((n - 3) * r_p * r_p / (1 - r_p * r_p), 6) AS f_stat
    FROM p
    """,
)
def q_granger_causality_f(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = t(spark, sf_dir, "orders")
    daily = o.groupBy(F.col("o_orderdate").cast("date").alias("d")).agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint"))
        .cast("bigint")
        .alias("y"),
        F.count(F.lit(1)).cast("bigint").alias("x"),
    )
    w = Window.orderBy("d")
    lagd = daily.select(
        "y", F.lag("y").over(w).alias("y1"), F.lag("x").over(w).alias("x1")
    ).where(F.col("y1").isNotNull())
    dec = lambda c: F.col(c).cast("decimal(38,0)")
    m = lagd.agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("n"),
        F.sum(dec("y")).alias("sy"),
        F.sum(dec("y1")).alias("s1"),
        F.sum(dec("x1")).alias("sx"),
        F.sum(dec("y") * F.col("y")).alias("syy"),
        F.sum(dec("y1") * F.col("y1")).alias("s11"),
        F.sum(dec("x1") * F.col("x1")).alias("sxx"),
        F.sum(dec("y") * F.col("y1")).alias("sy1"),
        F.sum(dec("y") * F.col("x1")).alias("syx"),
        F.sum(dec("y1") * F.col("x1")).alias("s1x"),
    ).collect()[0]
    import math as _math

    n = int(m["n"])
    sy, s1, sx = int(m["sy"]), int(m["s1"]), int(m["sx"])
    syy, s11, sxx = int(m["syy"]), int(m["s11"]), int(m["sxx"])
    sy1, syx, s1x = int(m["sy1"]), int(m["syx"]), int(m["s1x"])
    # identical expression order to the SQL twin
    r_y1 = float(n * sy1 - sy * s1) / _math.sqrt(
        float(n * syy - sy * sy) * float(n * s11 - s1 * s1)
    )
    r_yx = float(n * syx - sy * sx) / _math.sqrt(
        float(n * syy - sy * sy) * float(n * sxx - sx * sx)
    )
    r_1x = float(n * s1x - s1 * sx) / _math.sqrt(
        float(n * s11 - s1 * s1) * float(n * sxx - sx * sx)
    )
    r_p = (r_yx - r_y1 * r_1x) / _math.sqrt(
        (1 - r_y1 * r_y1) * (1 - r_1x * r_1x)
    )
    rows = [
        (
            n,
            round(r_y1, 6),
            round(r_p, 6),
            round((n - 3) * r_p * r_p / (1 - r_p * r_p), 6),
        )
    ]
    return o.sparkSession.createDataFrame(
        rows, "n_obs bigint, r_autocorr double, r_partial double, f_stat double"
    )


# ---------------------------------------------------------------------------
# Cook's distance (Cook 1977) — the influence diagnostic for the
# simple regression of order totalprice (cents) on lineitem count:
# D_i = (e_i²/(p·s²))·(h_i/(1−h_i)²), p = 2. EVERY scalar (slope,
# intercept, RSS, centered Sxx) is a closed-form double from exact
# N-scaled DECIMAL(38,0) moments — RSS via Syy_c − b·Sxy_c, never a
# float sum over rows — so the per-row D_i expression is a fixed
# IEEE sequence and the top-10 ranking is deterministic (orderkey
# tie-break). Plan: one count-aggregate + join, one 6-integer reduce,
# one per-row expression pass, TakeOrderedAndProject(10).
@_q(
    "cooks_distance_top",
    """
    WITH xy AS (
      SELECT o.o_orderkey AS k,
             CAST(cnt.c AS BIGINT) AS x,
             CAST(round(o.o_totalprice * 100) AS BIGINT) AS y
      FROM orders o
      JOIN (SELECT l_orderkey, COUNT(*) AS c FROM lineitem GROUP BY 1) cnt
        ON cnt.l_orderkey = o.o_orderkey
    ),
    m AS (
      SELECT CAST(COUNT(*) AS HUGEINT) AS n,
             SUM(CAST(x AS HUGEINT)) AS sx, SUM(CAST(y AS HUGEINT)) AS sy,
             SUM(CAST(x AS HUGEINT) * x) AS sxx,
             SUM(CAST(y AS HUGEINT) * y) AS syy,
             SUM(CAST(x AS HUGEINT) * y) AS sxy
      FROM xy
    ),
    fit AS (
      SELECT CAST(n AS BIGINT) AS n,
             CAST(n * sxy - sx * sy AS DOUBLE)
               / CAST(n * sxx - sx * sx AS DOUBLE) AS b,
             CAST(sx AS DOUBLE) / CAST(n AS DOUBLE) AS xbar,
             CAST(sy AS DOUBLE) / CAST(n AS DOUBLE) AS ybar,
             CAST(n * sxx - sx * sx AS DOUBLE) / CAST(n AS DOUBLE) AS sxx_c,
             (CAST(n * syy - sy * sy AS DOUBLE) / CAST(n AS DOUBLE)
              - (CAST(n * sxy - sx * sy AS DOUBLE)
                 / CAST(n * sxx - sx * sx AS DOUBLE))
                * (CAST(n * sxy - sx * sy AS DOUBLE) / CAST(n AS DOUBLE)))
               AS rss
      FROM m
    ),
    d AS (
      SELECT xy.k, xy.x, xy.y,
             (POWER(xy.y - (f.ybar + f.b * (xy.x - f.xbar)), 2)
              / (2 * (f.rss / (f.n - 2))))
             * ((1.0 / f.n + POWER(xy.x - f.xbar, 2) / f.sxx_c)
                / POWER(1 - (1.0 / f.n + POWER(xy.x - f.xbar, 2) / f.sxx_c),
                        2)) AS cd
      FROM xy CROSS JOIN fit f
    )
    SELECT k AS o_orderkey, x AS n_items,
           CAST(y AS DOUBLE) / 100 AS totalprice,
           round(cd, 6) AS cooks_d
    FROM d ORDER BY cd DESC, k LIMIT 10
    """,
)
def q_cooks_distance_top(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = t(spark, sf_dir, "orders")
    li = t(spark, sf_dir, "lineitem")
    cnt = li.groupBy("l_orderkey").agg(F.count(F.lit(1)).alias("c"))
    xy = o.join(cnt, o["o_orderkey"] == cnt["l_orderkey"]).select(
        F.col("o_orderkey").alias("k"),
        F.col("c").cast("bigint").alias("x"),
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("y"),
    ).localCheckpoint(eager=True)  # moments + scoring share it
    dec = lambda c: F.col(c).cast("decimal(38,0)")
    m = xy.agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("n"),
        F.sum(dec("x")).alias("sx"),
        F.sum(dec("y")).alias("sy"),
        F.sum(dec("x") * F.col("x")).alias("sxx"),
        F.sum(dec("y") * F.col("y")).alias("syy"),
        F.sum(dec("x") * F.col("y")).alias("sxy"),
    ).collect()[0]
    n = int(m["n"])
    sx, sy = int(m["sx"]), int(m["sy"])
    sxx, syy, sxy = int(m["sxx"]), int(m["syy"]), int(m["sxy"])
    b = float(n * sxy - sx * sy) / float(n * sxx - sx * sx)
    xbar = float(sx) / float(n)
    ybar = float(sy) / float(n)
    sxx_c = float(n * sxx - sx * sx) / float(n)
    rss = float(n * syy - sy * sy) / float(n) - b * (
        float(n * sxy - sx * sy) / float(n)
    )
    h = F.lit(1.0) / n + F.pow(F.col("x") - F.lit(xbar), 2) / F.lit(sxx_c)
    e2 = F.pow(
        F.col("y") - (F.lit(ybar) + F.lit(b) * (F.col("x") - F.lit(xbar))), 2
    )
    cd = (e2 / (2 * (F.lit(rss) / (n - 2)))) * (h / F.pow(1 - h, 2))
    return (
        xy.select(
            F.col("k").alias("o_orderkey"),
            F.col("x").alias("n_items"),
            (F.col("y").cast("double") / 100).alias("totalprice"),
            cd.alias("cd"),
        )
        .orderBy(F.desc("cd"), "o_orderkey")
        .limit(10)
        .select(
            "o_orderkey",
            "n_items",
            "totalprice",
            F.round(F.col("cd"), 6).alias("cooks_d"),
        )
    )


# ---------------------------------------------------------------------------
# Hill tail-index estimator (Hill 1975) for the order-value upper
# tail: H = (1/k)·Σ ln(x_(i)/x_(k+1)) over the top k = 100 order
# statistics, alpha = 1/H — the EVT peaks-over-threshold complement
# to gumbel_block_maxima's block-maxima fit. Order statistics are
# exact cent integers via one TakeOrderedAndProject; each log-ratio
# term ln(x_i) − ln(x_k1) is round(12)-latticed and DECIMAL-summed
# (order-free). Ties at the threshold are harmless: the top-(k+1)
# MULTISET is deterministic even when the cut value repeats.
_HILL_K = 100


@_q(
    "hill_tail_index",
    f"""
    WITH topk AS (
      SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS c
      FROM orders ORDER BY c DESC LIMIT {_HILL_K + 1}
    ),
    thr AS (SELECT min(c) AS x_k1 FROM topk),
    terms AS (
      SELECT CAST(SUM(CAST(round(ln(CAST(c AS DOUBLE))
                                 - ln(CAST(t.x_k1 AS DOUBLE)), 12)
                           AS DECIMAL(38,12))) AS DOUBLE) AS s,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM (SELECT c FROM topk ORDER BY c DESC LIMIT {_HILL_K})
           CROSS JOIN thr t
    )
    SELECT CAST({_HILL_K} AS BIGINT) AS k,
           round(CAST((SELECT x_k1 FROM thr) AS DOUBLE) / 100, 2)
             AS threshold,
           round(s / {_HILL_K}, 6) AS hill_h,
           round({_HILL_K} / s, 6) AS tail_alpha
    FROM terms
    """,
)
def q_hill_tail_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = t(spark, sf_dir, "orders")
    topk1 = (
        o.select(
            F.round(F.col("o_totalprice") * 100).cast("bigint").alias("c")
        )
        .orderBy(F.desc("c"))
        .limit(_HILL_K + 1)
        .localCheckpoint(eager=True)  # threshold + terms share it
    )
    thr = topk1.agg(F.min("c").alias("x_k1"))
    topk = topk1.orderBy(F.desc("c")).limit(_HILL_K)
    terms = topk.crossJoin(F.broadcast(thr)).agg(
        F.sum(
            F.round(
                F.log(F.col("c").cast("double"))
                - F.log(F.col("x_k1").cast("double")),
                12,
            ).cast("decimal(38,12)")
        )
        .cast("double")
        .alias("s"),
        F.count(F.lit(1)).cast("bigint").alias("n"),
    )
    return terms.crossJoin(F.broadcast(thr)).select(
        F.lit(_HILL_K).cast("bigint").alias("k"),
        F.round(F.col("x_k1").cast("double") / 100, 2).alias("threshold"),
        F.round(F.col("s") / _HILL_K, 6).alias("hill_h"),
        F.round(F.lit(_HILL_K) / F.col("s"), 6).alias("tail_alpha"),
    )


# ---------------------------------------------------------------------------
# White's heteroskedasticity LM test (White 1980): regress the SQUARED
# residuals of totalprice ~ lineitem-count on [1, x, x²]; LM = n·R².
# Like granger_causality_f, the two-regressor R² comes from the
# Frisch–Waugh–Lovell identity (R² = r²_gx + r²_{gz·x}(1−r²_gx)) —
# never a 3×3 inversion. EXACT moments throughout: stage-1 residuals
# are re-latticed to whole DOLLARS (ed = round(e/100), one double
# rounding with identical expression text — the coarser lattice keeps
# Σg² = Σed⁴ inside DECIMAL(38,0) even at sf1), so g = ed², x and
# z = x² are integers and every second-stage moment is exact.
@_q(
    "white_lm_test",
    """
    WITH xy AS (
      SELECT CAST(cnt.c AS BIGINT) AS x,
             CAST(round(o.o_totalprice * 100) AS BIGINT) AS y
      FROM orders o
      JOIN (SELECT l_orderkey, COUNT(*) AS c FROM lineitem GROUP BY 1) cnt
        ON cnt.l_orderkey = o.o_orderkey
    ),
    m1 AS (
      SELECT CAST(COUNT(*) AS HUGEINT) AS n,
             SUM(CAST(x AS HUGEINT)) AS sx, SUM(CAST(y AS HUGEINT)) AS sy,
             SUM(CAST(x AS HUGEINT) * x) AS sxx,
             SUM(CAST(x AS HUGEINT) * y) AS sxy
      FROM xy
    ),
    fit AS (
      SELECT CAST(n * sxy - sx * sy AS DOUBLE)
               / CAST(n * sxx - sx * sx AS DOUBLE) AS b,
             (CAST(sy AS DOUBLE)
              - CAST(n * sxy - sx * sy AS DOUBLE)
                / CAST(n * sxx - sx * sx AS DOUBLE)
                * CAST(sx AS DOUBLE)) / CAST(n AS DOUBLE) AS a
      FROM m1
    ),
    gz AS (
      SELECT CAST(round((y - f.a - f.b * x) / 100) AS HUGEINT) AS e4,
             CAST(x AS HUGEINT) AS x, CAST(x AS HUGEINT) * x AS z
      FROM xy CROSS JOIN fit f
    ),
    m2 AS (
      SELECT CAST(COUNT(*) AS HUGEINT) AS n,
             SUM(e4 * e4) AS sg,
             SUM((e4 * e4) * (e4 * e4)) AS sgg,
             SUM((e4 * e4) * x) AS sgx,
             SUM((e4 * e4) * z) AS sgz,
             SUM(x) AS sx, SUM(x * x) AS sxx,
             SUM(z) AS sz, SUM(z * z) AS szz, SUM(x * z) AS sxz
      FROM gz
    ),
    r AS (
      SELECT CAST(n AS BIGINT) AS n,
        CAST(n * sgx - sg * sx AS DOUBLE)
          / sqrt(CAST(n * sgg - sg * sg AS DOUBLE)
                 * CAST(n * sxx - sx * sx AS DOUBLE)) AS r_gx,
        CAST(n * sgz - sg * sz AS DOUBLE)
          / sqrt(CAST(n * sgg - sg * sg AS DOUBLE)
                 * CAST(n * szz - sz * sz AS DOUBLE)) AS r_gz,
        CAST(n * sxz - sx * sz AS DOUBLE)
          / sqrt(CAST(n * sxx - sx * sx AS DOUBLE)
                 * CAST(n * szz - sz * sz AS DOUBLE)) AS r_xz
      FROM m2
    ),
    p AS (
      SELECT n, r_gx,
             (r_gz - r_gx * r_xz)
               / sqrt((1 - r_gx * r_gx) * (1 - r_xz * r_xz)) AS r_p
      FROM r
    )
    SELECT n AS n_obs,
           round(r_gx * r_gx
                 + r_p * r_p * (1 - r_gx * r_gx), 9) AS r2_aux,
           round(n * (r_gx * r_gx
                      + r_p * r_p * (1 - r_gx * r_gx)), 6) AS white_lm
    FROM p
    """,
)
def q_white_lm_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    import math as _math

    o = t(spark, sf_dir, "orders")
    li = t(spark, sf_dir, "lineitem")
    cnt = li.groupBy("l_orderkey").agg(F.count(F.lit(1)).alias("c"))
    xy = o.join(cnt, o["o_orderkey"] == cnt["l_orderkey"]).select(
        F.col("c").cast("bigint").alias("x"),
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("y"),
    ).localCheckpoint(eager=True)
    dec = lambda c: F.col(c).cast("decimal(38,0)")
    m1 = xy.agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("n"),
        F.sum(dec("x")).alias("sx"),
        F.sum(dec("y")).alias("sy"),
        F.sum(dec("x") * F.col("x")).alias("sxx"),
        F.sum(dec("x") * F.col("y")).alias("sxy"),
    ).collect()[0]
    n1, sx1, sy1 = int(m1["n"]), int(m1["sx"]), int(m1["sy"])
    sxx1, sxy1 = int(m1["sxx"]), int(m1["sxy"])
    b = float(n1 * sxy1 - sx1 * sy1) / float(n1 * sxx1 - sx1 * sx1)
    a = (float(sy1) - b * float(sx1)) / float(n1)
    e4 = F.round((F.col("y") - F.lit(a) - F.lit(b) * F.col("x")) / 100).cast(
        "decimal(38,0)"
    )
    gz = xy.select(
        e4.alias("e4"),
        dec("x").alias("x"),
        (dec("x") * F.col("x")).alias("z"),
    )
    g = F.col("e4") * F.col("e4")
    m2 = gz.agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("n"),
        F.sum(g).alias("sg"),
        F.sum(g * g).alias("sgg"),
        F.sum(g * F.col("x")).alias("sgx"),
        F.sum(g * F.col("z")).alias("sgz"),
        F.sum(F.col("x")).alias("sx"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("z")).alias("sz"),
        F.sum(F.col("z") * F.col("z")).alias("szz"),
        F.sum(F.col("x") * F.col("z")).alias("sxz"),
    ).collect()[0]
    n = int(m2["n"])
    sg, sgg = int(m2["sg"]), int(m2["sgg"])
    sgx, sgz = int(m2["sgx"]), int(m2["sgz"])
    sx, sxx = int(m2["sx"]), int(m2["sxx"])
    sz, szz, sxz = int(m2["sz"]), int(m2["szz"]), int(m2["sxz"])
    r_gx = float(n * sgx - sg * sx) / _math.sqrt(
        float(n * sgg - sg * sg) * float(n * sxx - sx * sx)
    )
    r_gz = float(n * sgz - sg * sz) / _math.sqrt(
        float(n * sgg - sg * sg) * float(n * szz - sz * sz)
    )
    r_xz = float(n * sxz - sx * sz) / _math.sqrt(
        float(n * sxx - sx * sx) * float(n * szz - sz * sz)
    )
    r_p = (r_gz - r_gx * r_xz) / _math.sqrt(
        (1 - r_gx * r_gx) * (1 - r_xz * r_xz)
    )
    r2 = r_gx * r_gx + r_p * r_p * (1 - r_gx * r_gx)
    rows = [(n, round(r2, 9), round(n * r2, 6))]
    return o.sparkSession.createDataFrame(
        rows, "n_obs bigint, r2_aux double, white_lm double"
    )


# ---------------------------------------------------------------------------
# Pettitt change-point test (Pettitt 1979) on daily revenue — the
# rank-based single-changepoint detector that needs no distributional
# assumption (complements cusum_changepoint / binary_segmentation's
# mean-shift SSE splits). U_t = Σ_{i<=t}(2r_i) − t(n+1) with DOUBLED
# average ranks (exact integers, ties handled like wilcoxon's rank
# lattice); K = max|U_t| over t < n, earliest argmax wins. The
# approximate significance 2·exp(−6K²/(n³+n²)) is one closed form.
# Plan: daily aggregate -> per-distinct-value rank window -> prefix
# sum over the bounded day spine.
@_q(
    "pettitt_change_point",
    """
    WITH daily AS (
      SELECT CAST(o_orderdate AS DATE) AS d,
             CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS y
      FROM orders GROUP BY 1
    ),
    per_v AS (
      SELECT y AS v, COUNT(*) AS t FROM daily GROUP BY 1
    ),
    rk AS (
      SELECT v, t,
             COALESCE(SUM(t) OVER (ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cb
      FROM per_v
    ),
    ranked AS (
      SELECT dl.d, 2 * rk.cb + rk.t + 1 AS r2
      FROM daily dl JOIN rk ON rk.v = dl.y
    ),
    u AS (
      SELECT d,
             row_number() OVER (ORDER BY d) AS tt,
             COUNT(*) OVER () AS n,
             SUM(r2) OVER (ORDER BY d ROWS UNBOUNDED PRECEDING) AS s2
      FROM ranked
    ),
    stat AS (
      SELECT d, n, CAST(s2 - tt * (n + 1) AS BIGINT) AS ut
      FROM u WHERE tt < n
    )
    SELECT (SELECT CAST(MAX(n) AS BIGINT) FROM stat) AS n_days,
           CAST((SELECT MAX(abs(ut)) FROM stat) AS BIGINT) AS k_stat,
           (SELECT strftime(d, '%Y-%m-%d') FROM stat
            WHERE abs(ut) = (SELECT MAX(abs(ut)) FROM stat)
            ORDER BY d LIMIT 1) AS change_day,
           round(2 * exp(-6.0
                 * CAST((SELECT MAX(abs(ut)) FROM stat) AS DOUBLE)
                 * (SELECT MAX(abs(ut)) FROM stat)
                 / (CAST((SELECT MAX(n) FROM stat) AS DOUBLE)
                    * (SELECT MAX(n) FROM stat)
                    * ((SELECT MAX(n) FROM stat) + 1))), 6) AS p_approx
    """,
)
def q_pettitt_change_point(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = t(spark, sf_dir, "orders")
    daily = o.groupBy(F.col("o_orderdate").cast("date").alias("d")).agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint"))
        .cast("bigint")
        .alias("y")
    )
    per_v = daily.groupBy(F.col("y").alias("v")).agg(
        F.count(F.lit(1)).alias("t")
    )
    wv = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, -1)
    rk = per_v.select(
        "v", "t", F.coalesce(F.sum("t").over(wv), F.lit(0)).alias("cb")
    )
    ranked = daily.join(rk, daily["y"] == rk["v"]).select(
        "d", (2 * F.col("cb") + F.col("t") + 1).alias("r2")
    )
    wd = Window.orderBy("d")
    wp = wd.rowsBetween(Window.unboundedPreceding, 0)
    wall = Window.partitionBy()
    u = ranked.select(
        "d",
        F.row_number().over(wd).alias("tt"),
        F.count(F.lit(1)).over(wall).alias("n"),
        F.sum("r2").over(wp).alias("s2"),
    )
    stat = u.where(F.col("tt") < F.col("n")).select(
        "d",
        "n",
        (F.col("s2") - F.col("tt") * (F.col("n") + 1))
        .cast("bigint")
        .alias("ut"),
    ).localCheckpoint(eager=True)  # bounded spine, reused 3x
    agg = stat.agg(
        F.max("n").cast("bigint").alias("n_days"),
        F.max(F.abs(F.col("ut"))).cast("bigint").alias("k_stat"),
    )
    day = (
        stat.crossJoin(F.broadcast(agg))
        .where(F.abs(F.col("ut")) == F.col("k_stat"))
        .orderBy("d")
        .limit(1)
        .select(F.date_format("d", "yyyy-MM-dd").alias("change_day"))
    )
    nd = F.col("n_days").cast("double")
    k = F.col("k_stat").cast("double")
    return agg.crossJoin(F.broadcast(day)).select(
        "n_days",
        "k_stat",
        "change_day",
        F.round(
            2 * F.exp(-6.0 * k * F.col("k_stat") / (nd * F.col("n_days") * (F.col("n_days") + 1))),
            6,
        ).alias("p_approx"),
    )
