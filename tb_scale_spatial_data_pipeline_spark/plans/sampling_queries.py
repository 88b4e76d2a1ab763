"""Sampling + reshaping queries for training-data pipelines.

Random `df.sample` is engine- and partitioning-dependent, so the
engine's sampling story is DETERMINISTIC hash-based sampling — the
reproducible form used by real dataset pipelines (same rows selected
on any cluster size, any engine):

- systematic sample: keep rows where md5(key) lands in a rate bucket;
- stratified sample: per-class rates from a broadcast rate table;
- stratified cap: at most K per class by hash order (rebalancing).

Plus reshaping: pivot (long→wide crosstab via conditional aggregates,
engine-portable) and posexplode (wide→long array flattening).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ._util import t, registry

QUERIES, ORACLES, _q = registry()


# md5-hex prefix → integer in [0, 65536)
_SQL_BUCKET = "CAST(('0x' || substring(md5(CAST({key} AS VARCHAR)), 1, 4)) AS INTEGER)"


def _bucket(key) -> F.Column:
    return F.conv(F.substring(F.md5(key.cast("string")), 1, 4), 16, 10).cast("int")


# ---------------------------------------------------------------------------
# Systematic deterministic sample: ~10% of lineitem by key hash.
@_q(
    "systematic_sample",
    f"""
    SELECT l_orderkey, l_linenumber, l_quantity
    FROM lineitem
    WHERE {_SQL_BUCKET.format(key="l_orderkey * 10 + l_linenumber")} < 6554
    """,
)
def q_systematic_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem")
    key = F.col("l_orderkey") * 10 + F.col("l_linenumber")
    return li.where(_bucket(key) < 6554).select(
        "l_orderkey", "l_linenumber", "l_quantity"
    )


# ---------------------------------------------------------------------------
# Stratified sample: per-class rates (downsample the majority class) —
# the class-rebalancing primitive.
@_q(
    "stratified_sample",
    f"""
    WITH rates AS (
      SELECT 'en' AS lang, 13107 AS thr UNION ALL
      SELECT 'de', 32768 UNION ALL SELECT 'es', 32768 UNION ALL
      SELECT 'fr', 32768 UNION ALL SELECT 'zh', 32768
    )
    SELECT d.doc_id, d.lang
    FROM documents d JOIN rates r ON d.lang = r.lang
    WHERE {_SQL_BUCKET.format(key="d.doc_id")} < r.thr
    """,
)
def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents")
    rates = spark.createDataFrame(
        [("en", 13107), ("de", 32768), ("es", 32768), ("fr", 32768), ("zh", 32768)],
        "lang string, thr int",
    )
    joined = docs.join(F.broadcast(rates), "lang")
    return joined.where(_bucket(F.col("doc_id")) < F.col("thr")).select(
        "doc_id", "lang"
    )


# ---------------------------------------------------------------------------
# Stratified cap: at most 20 docs per language, chosen by deterministic
# hash order (not arrival order — cluster-size invariant).
@_q(
    "stratified_cap",
    f"""
    SELECT doc_id, lang
    FROM (
      SELECT doc_id, lang,
             row_number() OVER (PARTITION BY lang
                                ORDER BY {_SQL_BUCKET.format(key="doc_id")}, doc_id) AS rn
      FROM documents
    ) WHERE rn <= 20
    """,
)
def q_stratified_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents")
    w = Window.partitionBy("lang").orderBy(_bucket(F.col("doc_id")), F.col("doc_id"))
    return (
        docs.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 20)
        .select("doc_id", "lang")
    )


# ---------------------------------------------------------------------------
# Pivot (long→wide crosstab) via conditional aggregates — identical
# formulation on both engines (Spark .pivot() compiles to the same).
@_q(
    "pivot_status_counts",
    """
    SELECT l_returnflag,
           COUNT(CASE WHEN l_linestatus = 'O' THEN 1 END) AS n_open,
           COUNT(CASE WHEN l_linestatus = 'F' THEN 1 END) AS n_filled
    FROM lineitem GROUP BY l_returnflag
    """,
)
def q_pivot_status_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem")
    out = (
        li.groupBy("l_returnflag")
        .pivot("l_linestatus", ["O", "F"])
        .agg(F.count(F.lit(1)))
    )
    return out.select(
        "l_returnflag",
        F.coalesce(F.col("O"), F.lit(0)).alias("n_open"),
        F.coalesce(F.col("F"), F.lit(0)).alias("n_filled"),
    )


# ---------------------------------------------------------------------------
# posexplode (wide→long array flattening with ordinal).
@_q(
    "posexplode_embeddings",
    """
    SELECT e.vec_id, CAST(i - 1 AS INT) AS pos,
           round(CAST(e.embedding[i] AS DOUBLE), 6) AS val
    FROM embeddings e CROSS JOIN generate_series(1, 64) t(i)
    WHERE e.vec_id < 50
    """,
)
def q_posexplode_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = t(spark, sf_dir, "embeddings").where(F.col("vec_id") < 50)
    ex = emb.select("vec_id", F.posexplode("embedding").alias("pos", "val"))
    return ex.select(
        "vec_id", F.col("pos").cast("int"), F.round(F.col("val").cast("double"), 6).alias("val")
    )


# ---------------------------------------------------------------------------
# Weighted sample without replacement (Efraimidis–Spirakis A-ES):
# draw k rows with inclusion probability ∝ weight by racing
# exponential clocks — key_i = -ln(u_i)/w_i, keep the k smallest.
# u_i comes from the deterministic md5 bucket (same selection on any
# cluster size or engine), and the k smallest are a TakeOrdered heap:
# per-partition partial top-k, no global sort — the scale form of
# "give me 200 orders, big spenders more likely".
@_q(
    "weighted_sample_orders",
    f"""
    SELECT o_orderkey, CAST(o_totalprice AS DOUBLE) AS o_totalprice
    FROM (
      SELECT o_orderkey, o_totalprice,
             round(-ln(({_SQL_BUCKET.format(key="o_orderkey")} + 0.5)
                       / 65536.0)
                   / CAST(o_totalprice AS DOUBLE), 12) AS ekey
      FROM orders
    )
    ORDER BY ekey, o_orderkey LIMIT 200
    """,
)
def q_weighted_sample_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = t(spark, sf_dir, "orders")
    u = (_bucket(F.col("o_orderkey")) + F.lit(0.5)) / F.lit(65536.0)
    ekey = F.round(-F.log(u) / F.col("o_totalprice").cast("double"), 12)
    return (
        orders.select(
            "o_orderkey",
            F.col("o_totalprice").cast("double").alias("o_totalprice"),
            ekey.alias("ekey"),
        )
        .orderBy(F.asc("ekey"), F.asc("o_orderkey"))
        .limit(200)
        .select("o_orderkey", "o_totalprice")
    )


# ---------------------------------------------------------------------------
# Negative sampling for contrastive training: per document, k
# pseudo-random non-matching partners drawn by a deterministic hash
# ring (md5 of (doc_id, slot) mod corpus size, re-rolled once on
# self-collision). Pure projection + one broadcast scalar (the corpus
# count) — no shuffle of the corpus, no rand() nondeterminism; the
# same pairs on any cluster and any engine.
@_q(
    "negative_sampling_pairs",
    f"""
    WITH n AS (SELECT COUNT(*) AS cnt FROM documents),
    cand AS (
      SELECT d.doc_id, s.slot,
             {_SQL_BUCKET.format(key="d.doc_id * 10 + s.slot")} % n.cnt AS neg_id
      FROM documents d
      CROSS JOIN (SELECT unnest([0, 1, 2]) AS slot) s
      CROSS JOIN n
    )
    SELECT doc_id, slot,
           CAST(CASE WHEN neg_id = doc_id
                     THEN (neg_id + 1) % (SELECT cnt FROM n)
                     ELSE neg_id END AS BIGINT) AS neg_id
    FROM cand
    """,
)
def q_negative_sampling_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents")
    n = docs.agg(F.count(F.lit(1)).alias("cnt"))
    slots = F.explode(F.array(F.lit(0), F.lit(1), F.lit(2))).alias("slot")
    cand = (
        docs.select("doc_id")
        .select("doc_id", slots)
        .crossJoin(F.broadcast(n))
        .withColumn(
            "neg_id",
            _bucket(F.col("doc_id") * 10 + F.col("slot")) % F.col("cnt"),
        )
    )
    return cand.select(
        "doc_id",
        "slot",
        F.when(F.col("neg_id") == F.col("doc_id"), (F.col("neg_id") + 1) % F.col("cnt"))
        .otherwise(F.col("neg_id"))
        .cast("bigint")
        .alias("neg_id"),
    )


# ---------------------------------------------------------------------------
# Neyman (variance-optimal) allocation for stratified sampling: given
# a total budget, the per-stratum sample size is proportional to
# N_h * S_h (stratum size x stratum std) — the design that minimizes
# estimator variance for a fixed budget, vs the proportional
# allocation stratified_sample uses. Per-stratum moments come from
# ONE pass of decimal-exact power sums (Σw, Σw²); the only floats are
# each stratum's sqrt and the final share — computed per row from
# exact inputs, no cross-row float accumulation. The sqrt-sum
# normalizer is an ordered fold (sort_array / SUM(... ORDER BY))
# pinning accumulation order cross-engine.
_NEYMAN_BUDGET = 100


@_q(
    "neyman_allocation",
    f"""
    WITH m AS (
      SELECT o_orderpriority AS stratum,
             COUNT(*) AS n_h,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS s1,
             CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2))
                           * CAST(o_totalprice AS DECIMAL(18,2))
                           AS DECIMAL(30,4))) AS DOUBLE) AS s2
      FROM orders GROUP BY 1
    ), w AS (
      SELECT stratum, n_h,
             n_h * sqrt((s2 - s1 * s1 / n_h) / (n_h - 1)) AS nhsh
      FROM m
    ), tot AS (
      SELECT SUM(nhsh ORDER BY stratum) AS z FROM w
    )
    SELECT stratum, CAST(n_h AS BIGINT) AS n_h,
           round(nhsh / z, 6) AS alloc_share,
           CAST(round({_NEYMAN_BUDGET} * nhsh / z) AS BIGINT) AS alloc_n
    FROM w CROSS JOIN tot
    ORDER BY stratum
    """,
)
def q_neyman_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = t(spark, sf_dir, "orders")
    v = F.col("o_totalprice").cast("decimal(18,2)")
    m = orders.groupBy(F.col("o_orderpriority").alias("stratum")).agg(
        F.count(F.lit(1)).alias("n_h"),
        F.sum(v).cast("double").alias("s1"),
        F.sum((v * v).cast("decimal(30,4)")).cast("double").alias("s2"),
    )
    nhsh = F.col("n_h") * F.sqrt(
        (F.col("s2") - F.col("s1") * F.col("s1") / F.col("n_h"))
        / (F.col("n_h") - 1)
    )
    w = m.select("stratum", "n_h", nhsh.alias("nhsh"))
    tot = w.agg(
        F.expr(
            "aggregate(array_sort(collect_list(struct(stratum, nhsh))),"
            " cast(0.0 as double), (acc, x) -> acc + x.nhsh)"
        ).alias("z")
    )
    return (
        w.crossJoin(F.broadcast(tot))
        .select(
            "stratum",
            F.col("n_h").cast("bigint").alias("n_h"),
            F.round(F.col("nhsh") / F.col("z"), 6).alias("alloc_share"),
            F.round(F.lit(_NEYMAN_BUDGET) * F.col("nhsh") / F.col("z"))
            .cast("bigint")
            .alias("alloc_n"),
        )
        .orderBy("stratum")
    )


# ---------------------------------------------------------------------------
# Balanced class downsampling: undersample every label to the
# minority-class count, selecting each label's keepers by md5 rank
# (deterministic, reproducible on any cluster — the md5-order idiom
# of stratified_sample applied to class balancing). The per-label
# rank window parallelizes over labels; the minority count is one
# tiny broadcast scalar. Output: per-label kept counts + which ids
# survived, verified exactly.
@_q(
    "class_balance_downsample",
    """
    WITH m AS (
      SELECT min(c) AS target FROM (
        SELECT COUNT(*) AS c FROM embeddings GROUP BY label)
    ), ranked AS (
      SELECT vec_id, label,
             row_number() OVER (PARTITION BY label
                                ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id)
               AS rn
      FROM embeddings
    )
    SELECT CAST(label AS BIGINT) AS label, CAST(COUNT(*) AS BIGINT) AS n_kept,
           CAST(min(vec_id) AS BIGINT) AS min_kept_id,
           CAST(max(vec_id) AS BIGINT) AS max_kept_id,
           CAST(SUM(vec_id) AS BIGINT) AS sum_kept_ids
    FROM ranked CROSS JOIN m
    WHERE rn <= target
    GROUP BY label
    ORDER BY label
    """,
)
def q_class_balance_downsample(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = t(spark, sf_dir, "embeddings")
    target = (
        emb.groupBy("label")
        .agg(F.count(F.lit(1)).alias("c"))
        .agg(F.min("c").alias("target"))
    )
    rn = F.row_number().over(
        Window.partitionBy("label").orderBy(
            F.md5(F.col("vec_id").cast("string")), "vec_id"
        )
    )
    ranked = emb.select("vec_id", "label").withColumn("rn", rn)
    return (
        ranked.crossJoin(F.broadcast(target))
        .where(F.col("rn") <= F.col("target"))
        .groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n_kept"),
            F.min("vec_id").cast("bigint").alias("min_kept_id"),
            F.max("vec_id").cast("bigint").alias("max_kept_id"),
            F.sum("vec_id").cast("bigint").alias("sum_kept_ids"),
        )
        .select(
            F.col("label").cast("bigint").alias("label"),
            F.col("n_kept").cast("bigint").alias("n_kept"),
            "min_kept_id",
            "max_kept_id",
            "sum_kept_ids",
        )
        .orderBy("label")
    )
