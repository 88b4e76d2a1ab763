"""Source-mixing and time-series-structure queries: temperature-
scaled mixture sampling (the Pile/data-mixing shape), hour-of-day
seasonal decomposition, lagged autocorrelation, and contamination
span localization (gaps-and-islands over matched n-gram positions).

Determinism: sampling uses the md5-fraction ring (no rand()); all
means/covariances assemble from exact DECIMAL power sums; the one
pow() per source in temperature scaling is a single transcendental on
a single-division rational, rounded like every other transcendental
in the repo.

Scale notes (100 TB):
- Mixture sampling is two passes: a tiny per-source aggregate (one
  row per source) broadcast back over the corpus; the corpus itself
  is filtered in place, never shuffled.
- Seasonal decomposition and ACF reduce to per-group power sums that
  combine map-side; the ACF lag join is a window lag over data
  already sorted per series, not a self-join.
- Span localization runs per doc over its matched positions — the
  islands window partitions by doc, so no global sort.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ._util import _SQL_WORDS, t, registry

QUERIES, ORACLES, _q = registry()


_MIX_TEMP = 2.0  # temperature: flattens the source distribution
_GRAM_N = 8
_BENCH_MOD = 7


# ---------------------------------------------------------------------------
# Temperature-scaled mixture sampling over the LANG axis (the skewed
# one: en carries ~40%% of docs): keep probability p(g) ∝
# share(g)^(1/T) / share(g), normalized so the most-upweighted group
# keeps everything — tempering downsamples the head group and keeps
# the tail, the Pile/LLaMA source-mixing recipe. Doc-level keep
# decision = md5 fraction < p(g); no rand(), so the sample is
# engine- and partitioning-invariant.
@_q(
    "mixture_sample_sources",
    f"""
    WITH shares AS (
      SELECT lang, COUNT(*) AS n_docs,
             CAST(COUNT(*) AS DOUBLE) / SUM(COUNT(*)) OVER () AS share
      FROM documents GROUP BY lang
    ), scaled AS (
      SELECT lang, n_docs, share,
             pow(share, 1.0 / {_MIX_TEMP}) AS w
      FROM shares
    ), probs AS (
      SELECT lang, n_docs, share,
             round(w / share / (SELECT max(w / share) FROM scaled), 9) AS p_keep
      FROM scaled
    )
    SELECT d.doc_id, d.lang, p.p_keep
    FROM documents d JOIN probs p USING (lang)
    WHERE CAST(('0x' || substring(md5(CAST(d.doc_id AS VARCHAR)), 1, 4))
               AS INTEGER) / 65536.0 < p.p_keep
    """,
)
def q_mixture_sample_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents")
    shares = docs.groupBy("lang").agg(F.count("*").alias("n_docs"))
    tot = shares.agg(F.sum("n_docs").alias("n_tot"))
    scaled = shares.crossJoin(F.broadcast(tot)).select(
        "lang",
        "n_docs",
        (F.col("n_docs").cast("double") / F.col("n_tot")).alias("share"),
        F.pow(
            F.col("n_docs").cast("double") / F.col("n_tot"), 1.0 / _MIX_TEMP
        ).alias("w"),
    )
    wmax = scaled.agg(F.max(F.col("w") / F.col("share")).alias("wmax"))
    probs = scaled.crossJoin(F.broadcast(wmax)).select(
        "lang",
        F.round(F.col("w") / F.col("share") / F.col("wmax"), 9).alias("p_keep"),
    )
    u = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 4), 16, 10)
        .cast("int")
        / F.lit(65536.0)
    )
    return (
        docs.join(F.broadcast(probs), "lang")
        .where(u < F.col("p_keep"))
        .select("doc_id", "lang", "p_keep")
    )


# ---------------------------------------------------------------------------
# Hour-of-day seasonal decomposition: value = seasonal(hour) +
# residual; report per-hour seasonal means and the residual variance
# ratio (1 - var(resid)/var(value)) — the "how much does hour explain"
# statistic. Decimal-exact power sums; single float expression.
@_q(
    "seasonal_decompose_hourly",
    """
    WITH base AS (
      SELECT CAST(EXTRACT(hour FROM ts) AS INT) AS hr,
             CAST(value AS DECIMAL(18,2)) AS v
      FROM events
    ), hourly AS (
      SELECT hr, COUNT(*) AS n, SUM(v) AS s, SUM(v * v) AS ss FROM base GROUP BY hr
    ), tot AS (
      SELECT SUM(n) AS n_tot, SUM(s) AS s_tot, SUM(ss) AS ss_tot,
             SUM(CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / n ORDER BY hr)
               AS seasonal_raw
      FROM hourly
    )
    SELECT h.hr,
           round(CAST(h.s AS DOUBLE) / h.n, 6) AS seasonal_mean,
           CAST(h.n AS BIGINT) AS n,
           round((t.seasonal_raw - CAST(t.s_tot AS DOUBLE) * CAST(t.s_tot AS DOUBLE) / t.n_tot)
                 / (CAST(t.ss_tot AS DOUBLE) - CAST(t.s_tot AS DOUBLE) * CAST(t.s_tot AS DOUBLE) / t.n_tot),
                 6) AS seasonal_var_ratio
    FROM hourly h CROSS JOIN tot t
    """,
)
def q_seasonal_decompose_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events")
    v = F.col("value").cast("decimal(18,2)")
    base = ev.select(F.hour("ts").cast("int").alias("hr"), v.alias("v"))
    hourly = base.groupBy("hr").agg(
        F.count("*").alias("n"), F.sum("v").alias("s"), F.sum(F.col("v") * F.col("v")).alias("ss")
    )
    term = F.col("s").cast("double") * F.col("s").cast("double") / F.col("n")
    tot = hourly.agg(
        F.sum("n").alias("n_tot"),
        F.sum("s").alias("s_tot"),
        F.sum("ss").alias("ss_tot"),
        F.aggregate(
            F.sort_array(F.collect_list(F.struct(F.col("hr"), term.alias("term")))),
            F.lit(0.0),
            lambda acc, x: acc + x["term"],
        ).alias("seasonal_raw"),
    )
    s_tot = F.col("s_tot").cast("double")
    ssb = F.col("seasonal_raw") - s_tot * s_tot / F.col("n_tot")
    sst = F.col("ss_tot").cast("double") - s_tot * s_tot / F.col("n_tot")
    return hourly.crossJoin(F.broadcast(tot)).select(
        "hr",
        F.round(F.col("s").cast("double") / F.col("n"), 6).alias("seasonal_mean"),
        F.col("n").cast("bigint").alias("n"),
        F.round(ssb / sst, 6).alias("seasonal_var_ratio"),
    )


# ---------------------------------------------------------------------------
# Autocorrelation of the per-event-type value sequence at lags 1..3
# (sequence order = (ts, event_id)). The lagged pairing is a window
# lag over the per-series sort; moments are decimal-exact.
@_q(
    "autocorrelation_lags",
    """
    WITH seq AS (
      SELECT event_type, CAST(value AS DECIMAL(18,2)) AS v,
             lag(CAST(value AS DECIMAL(18,2)), 1) OVER w AS v1,
             lag(CAST(value AS DECIMAL(18,2)), 2) OVER w AS v2,
             lag(CAST(value AS DECIMAL(18,2)), 3) OVER w AS v3
      FROM events
      WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id)
    ), lags AS (
      SELECT event_type, lag, v, vl FROM (
        SELECT event_type, 1 AS lag, v, v1 AS vl FROM seq
        UNION ALL SELECT event_type, 2, v, v2 FROM seq
        UNION ALL SELECT event_type, 3, v, v3 FROM seq
      ) WHERE vl IS NOT NULL
    ), m AS (
      SELECT event_type, lag, COUNT(*) AS n,
             SUM(v) AS sx, SUM(vl) AS sy,
             SUM(v * vl) AS sxy, SUM(v * v) AS sxx, SUM(vl * vl) AS syy
      FROM lags GROUP BY 1, 2
    )
    SELECT event_type, CAST(lag AS INT) AS lag, CAST(n AS BIGINT) AS n,
           round((CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) / n)
                 / sqrt((CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) / n)
                        * (CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) / n)),
                 6) AS acf
    FROM m
    """,
)
def q_autocorrelation_lags(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events")
    v = F.col("value").cast("decimal(18,2)")
    w = Window.partitionBy("event_type").orderBy("ts", "event_id")
    seq = ev.select(
        "event_type",
        v.alias("v"),
        F.lag(v, 1).over(w).alias("v1"),
        F.lag(v, 2).over(w).alias("v2"),
        F.lag(v, 3).over(w).alias("v3"),
    )
    parts = []
    for k in (1, 2, 3):
        parts.append(
            seq.select(
                "event_type",
                F.lit(k).alias("lag"),
                F.col("v"),
                F.col(f"v{k}").alias("vl"),
            )
        )
    lags = parts[0].unionByName(parts[1]).unionByName(parts[2]).where(
        F.col("vl").isNotNull()
    )
    m = lags.groupBy("event_type", "lag").agg(
        F.count("*").alias("n"),
        F.sum("v").alias("sx"),
        F.sum("vl").alias("sy"),
        F.sum(F.col("v") * F.col("vl")).alias("sxy"),
        F.sum(F.col("v") * F.col("v")).alias("sxx"),
        F.sum(F.col("vl") * F.col("vl")).alias("syy"),
    )
    n = F.col("n")
    sx, sy = F.col("sx").cast("double"), F.col("sy").cast("double")
    acf = (
        (F.col("sxy").cast("double") - sx * sy / n)
        / F.sqrt(
            (F.col("sxx").cast("double") - sx * sx / n)
            * (F.col("syy").cast("double") - sy * sy / n)
        )
    )
    return m.select(
        "event_type",
        F.col("lag").cast("int").alias("lag"),
        n.cast("bigint").alias("n"),
        F.round(acf, 6).alias("acf"),
    )


# ---------------------------------------------------------------------------
# Contamination span localization: for each contaminated train doc,
# the LONGEST run of consecutive positions whose 8-gram matches the
# benchmark set — span-level evidence (gaps-and-islands over matched
# positions) that separates a quoted sentence from scattered collisions.
@_q(
    "contamination_spans",
    f"""
    WITH words AS (
      SELECT doc_id, {_SQL_WORDS} AS w FROM documents
    ), grams AS (
      SELECT doc_id, i AS pos, array_to_string(w[i:i+{_GRAM_N - 1}], ' ') AS gram
      FROM words, LATERAL unnest(generate_series(1, len(w) - {_GRAM_N - 1})) AS s(i)
      WHERE len(w) >= {_GRAM_N}
    ), bench AS (
      SELECT DISTINCT gram FROM grams WHERE doc_id % {_BENCH_MOD} = 0
    ), hits AS (
      SELECT g.doc_id, g.pos
      FROM grams g JOIN bench b USING (gram)
      WHERE g.doc_id % {_BENCH_MOD} <> 0
    ), isl AS (
      SELECT doc_id, pos,
             pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
      FROM hits
    ), runs AS (
      SELECT doc_id, COUNT(*) AS run_len, MIN(pos) AS run_start
      FROM isl GROUP BY doc_id, grp
    )
    SELECT doc_id,
           CAST(max(run_len) AS BIGINT) AS longest_run,
           CAST(min(run_start) FILTER (run_len = mx) AS BIGINT)
             AS longest_run_start,
           CAST(COUNT(*) AS BIGINT) AS n_runs
    FROM (
      SELECT *, max(run_len) OVER (PARTITION BY doc_id) AS mx FROM runs
    )
    GROUP BY doc_id
    """,
)
def q_contamination_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents")
    from ..functions.text import normalize_text, word_tokens

    words = docs.select(
        "doc_id", word_tokens(normalize_text(F.col("text"))).alias("w")
    ).where(F.size("w") >= _GRAM_N)
    grams = words.select(
        "doc_id",
        F.posexplode(
            F.expr(
                f"transform(sequence(1, size(w) - {_GRAM_N - 1}),"
                f" i -> array_join(slice(w, i, {_GRAM_N}), ' '))"
            )
        ).alias("pos0", "gram"),
    ).select("doc_id", (F.col("pos0") + 1).alias("pos"), "gram")
    bench = (
        grams.where(F.col("doc_id") % _BENCH_MOD == 0).select("gram").distinct()
    )
    hits = (
        grams.where(F.col("doc_id") % _BENCH_MOD != 0)
        .join(F.broadcast(bench), "gram")
        .select("doc_id", "pos")
    )
    isl = hits.withColumn(
        "grp",
        F.col("pos")
        - F.row_number().over(Window.partitionBy("doc_id").orderBy("pos")),
    )
    runs = isl.groupBy("doc_id", "grp").agg(
        F.count("*").alias("run_len"), F.min("pos").alias("run_start")
    )
    mx = F.max("run_len").over(Window.partitionBy("doc_id"))
    return (
        runs.withColumn("mx", mx)
        .groupBy("doc_id")
        .agg(
            F.max("run_len").cast("bigint").alias("longest_run"),
            F.min(F.when(F.col("run_len") == F.col("mx"), F.col("run_start")))
            .cast("bigint")
            .alias("longest_run_start"),
            F.count("*").cast("bigint").alias("n_runs"),
        )
    )
