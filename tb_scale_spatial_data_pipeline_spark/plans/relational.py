"""Relational-core queries (SURVEY §2.1–§2.5) with DuckDB oracles.

Each query re-expresses a reference operator pattern over the fixture
star schema. The Spark side uses the package's operator APIs; the
oracle is the ANSI-SQL equivalent. Column names are aliased
identically on both sides (driver hashes after sorting columns by
name).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.sentinels import sentinel_to_null, null_to_sentinel
from ..functions.signatures import combo_signature, hashed_model_key
from ..operators.composites import grouped_median, argmax_composite, grouped_percentiles
from ..operators.joins import broadcast_lookup, dual_model_fallback, combo_dispatch, grid_zip_join
from ..operators.relabel import solar_shadow_rules
from ._util import t, dsum, davg, sql_dsum, sql_davg, registry

QUERIES, ORACLES, _q = registry()


# ---------------------------------------------------------------------------
# Scan + filter + grouped aggregation (S1/P1/P7/A6): TPC-H Q1-shaped
# pricing summary. Filter is pushed to the parquet scan; aggregation is
# map-side partial → tiny shuffle.
@_q(
    "pricing_summary",
    f"""
    SELECT l_returnflag, l_linestatus,
           {sql_dsum('l_quantity')} AS sum_qty,
           {sql_dsum('l_extendedprice')} AS sum_base_price,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS sum_disc_price,
           {sql_davg('l_quantity')} AS avg_qty,
           COUNT(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem").where(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
    dec = lambda c: F.col(c).cast("decimal(18,2)")
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        dsum(F.col("l_quantity")).alias("sum_qty"),
        dsum(F.col("l_extendedprice")).alias("sum_base_price"),
        F.sum(dec("l_extendedprice") * (F.lit(1) - dec("l_discount"))).cast("double").alias("sum_disc_price"),
        davg(F.col("l_quantity")).alias("avg_qty"),
        F.count(F.lit(1)).alias("count_order"),
    )


# ---------------------------------------------------------------------------
# A1: grouped median ignoring NULLs — the nanmedian composite
# (`0_preprocessing/feature_stacking.py:131-135`) on relational data.
@_q(
    "grouped_median",
    """
    SELECT l_returnflag, l_linestatus,
           CAST(median(l_quantity) AS DOUBLE) AS median_qty
    FROM lineitem GROUP BY l_returnflag, l_linestatus
    """,
)
def q_grouped_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem")
    return grouped_median(li, ["l_returnflag", "l_linestatus"], "l_quantity", out_col="median_qty")


# ---------------------------------------------------------------------------
# A2/A4: argmax-by-key — keep the full payload of the max-metric row
# per group (`0_preprocessing/feature_stacking.py:140-167`).
@_q(
    "argmax_composite",
    """
    SELECT o_custkey, o_totalprice AS max_o_totalprice, o_orderkey, o_orderstatus
    FROM (
      SELECT o_custkey, o_totalprice, o_orderkey, o_orderstatus,
             row_number() OVER (PARTITION BY o_custkey
                                ORDER BY o_totalprice DESC, o_orderkey DESC, o_orderstatus DESC) AS rn
      FROM orders WHERE o_totalprice IS NOT NULL
    ) WHERE rn = 1
    """,
)
def q_argmax_composite(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = t(spark, sf_dir, "orders")
    return argmax_composite(orders, ["o_custkey"], "o_totalprice", ["o_orderkey", "o_orderstatus"])


# ---------------------------------------------------------------------------
# A3 + P8 + W1: grouped exact percentiles feeding a contrast stretch.
@_q(
    "percentile_stretch",
    """
    WITH pct AS (
      SELECT l_returnflag AS grp,
             quantile_cont(l_extendedprice, 0.02) AS p2,
             quantile_cont(l_extendedprice, 0.98) AS p98
      FROM lineitem GROUP BY l_returnflag
    )
    SELECT l.l_orderkey, l.l_linenumber,
           round(CASE WHEN p98 = p2 THEN 0.0
                 ELSE least(greatest((l.l_extendedprice - p2) / (p98 - p2), 0.0), 1.0) END * 255.0,
                 4) AS stretched
    FROM lineitem l JOIN pct ON l.l_returnflag = pct.grp
    """,
)
def q_percentile_stretch(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.indices import contrast_stretch
    from ..operators.quantiles import grouped_percentiles_via_ranks

    li = t(spark, sf_dir, "lineitem")
    # rank-selection path (r17): bit-identical to the buffered
    # percentile aggregate but with NO per-group single-task count-map
    # merge — the one stage of the old plan that could not survive a
    # 100 TB group (see grouped_percentiles_via_ranks)
    pct = grouped_percentiles_via_ranks(
        li.withColumnRenamed("l_returnflag", "grp"), ["grp"], "l_extendedprice"
    )
    joined = li.join(F.broadcast(pct), li["l_returnflag"] == pct["grp"])
    return joined.select(
        "l_orderkey",
        "l_linenumber",
        F.round(contrast_stretch(F.col("l_extendedprice"), F.col("p2"), F.col("p98")), 4).alias("stretched"),
    )


# ---------------------------------------------------------------------------
# J2 (flagship): dual-model fallback classification
# (`3_object_classification/object_classifier.py:149-181`).
# Main lookup = aggregate "prediction cache"; miss → backup rule; else 0.
@_q(
    "dual_model_fallback",
    """
    WITH main_preds AS (
      SELECT l_orderkey AS o_orderkey,
             CAST(max(l_partkey) % 5 + 1 AS INT) AS main_pred
      FROM lineitem WHERE l_quantity > 30 GROUP BY l_orderkey
    )
    SELECT o.o_orderkey,
           CAST(coalesce(m.main_pred,
                         CASE WHEN o.o_orderpriority = '1-URGENT' THEN 1
                              WHEN o.o_orderpriority = '2-HIGH' THEN 2 END,
                         0) AS INT) AS PredClass
    FROM orders o LEFT JOIN main_preds m ON o.o_orderkey = m.o_orderkey
    """,
)
def q_dual_model_fallback(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = t(spark, sf_dir, "orders")
    li = t(spark, sf_dir, "lineitem")
    main_preds = (
        li.where(F.col("l_quantity") > 30)
        .groupBy(F.col("l_orderkey").alias("o_orderkey"))
        .agg((F.max("l_partkey") % 5 + 1).cast("int").alias("main_pred"))
    )
    backup = (
        F.when(F.col("o_orderpriority") == "1-URGENT", 1)
        .when(F.col("o_orderpriority") == "2-HIGH", 2)
        .cast("int")
    )
    out = dual_model_fallback(
        orders, main_preds, on="o_orderkey", main_col="main_pred", backup_expr=backup
    )
    return out.select("o_orderkey", F.col("PredClass").cast("int").alias("PredClass"))


# ---------------------------------------------------------------------------
# J1: broadcast lookup join — fact never shuffles.
@_q(
    "broadcast_lookup",
    f"""
    SELECT p.p_brand,
           COUNT(*) AS n_items,
           {sql_dsum('l.l_quantity')} AS sum_qty
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    GROUP BY p.p_brand
    """,
)
def q_broadcast_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem")
    part = t(spark, sf_dir, "part").select(F.col("p_partkey").alias("l_partkey"), "p_brand")
    joined = broadcast_lookup(li, part, on="l_partkey", how="inner")
    return joined.groupBy("p_brand").agg(
        F.count(F.lit(1)).alias("n_items"), dsum(F.col("l_quantity")).alias("sum_qty")
    )


# ---------------------------------------------------------------------------
# J3: keyed model dispatch (inner broadcast join as semi-filter +
# payload fetch): only "combos" (brands) with an active model survive.
@_q(
    "combo_dispatch",
    """
    WITH active_models AS (
      SELECT p_brand AS combo_sig, CAST(count(*) AS INT) AS model_rank
      FROM part GROUP BY p_brand HAVING count(*) > 10
    )
    SELECT l.combo_sig, m.model_rank, COUNT(*) AS n_px
    FROM (SELECT p.p_brand AS combo_sig
          FROM lineitem li JOIN part p ON li.l_partkey = p.p_partkey) l
    JOIN active_models m ON l.combo_sig = m.combo_sig
    GROUP BY l.combo_sig, m.model_rank
    """,
)
def q_combo_dispatch(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem")
    part = t(spark, sf_dir, "part").select(F.col("p_partkey").alias("l_partkey"), "p_brand")
    pixels = broadcast_lookup(li, part, on="l_partkey", how="inner").select(
        F.col("p_brand").alias("combo_sig")
    )
    models = (
        t(spark, sf_dir, "part")
        .groupBy(F.col("p_brand").alias("combo_sig"))
        .agg(F.count(F.lit(1)).cast("int").alias("model_rank"))
        .where(F.col("model_rank") > 10)
    )
    return combo_dispatch(pixels, models).groupBy("combo_sig", "model_rank").agg(
        F.count(F.lit(1)).alias("n_px")
    )


# ---------------------------------------------------------------------------
# J4: grid-aligned zip join — two co-registered "band stacks" merged on
# the shared grid key (no-shuffle zip when co-partitioned).
@_q(
    "grid_zip_join",
    f"""
    WITH qty AS (SELECT l_orderkey, {sql_dsum('l_quantity')} AS band_qty
                 FROM lineitem GROUP BY l_orderkey),
         price AS (SELECT l_orderkey, {sql_dsum('l_extendedprice')} AS band_price
                   FROM lineitem GROUP BY l_orderkey)
    SELECT q.l_orderkey, q.band_qty, p.band_price
    FROM qty q JOIN price p ON q.l_orderkey = p.l_orderkey
    """,
)
def q_grid_zip_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem")
    qty = li.groupBy("l_orderkey").agg(dsum(F.col("l_quantity")).alias("band_qty"))
    price = li.groupBy("l_orderkey").agg(dsum(F.col("l_extendedprice")).alias("band_price"))
    return grid_zip_join(qty, price, ["l_orderkey"])


# ---------------------------------------------------------------------------
# S2/J5: companion-file resolution — derive the sibling key by string
# substitution, then join (`0_preprocessing/feature_stacking.py:62-65`).
@_q(
    "companion_join",
    """
    WITH files AS (
      SELECT doc_id, source || '_f' || CAST(doc_id AS VARCHAR) || '_composite.tif' AS fname
      FROM documents
    ),
    masks AS (
      SELECT source || '_f' || CAST(doc_id AS VARCHAR) || '_composite_udm2.tif' AS mname,
             n_chars AS mask_quality
      FROM documents
    )
    SELECT f.doc_id, m.mask_quality
    FROM files f
    LEFT JOIN masks m
      ON regexp_replace(f.fname, '_composite\\.tif$', '_composite_udm2.tif') = m.mname
    """,
)
def q_companion_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents")
    files = docs.select(
        "doc_id",
        F.concat(F.col("source"), F.lit("_f"), F.col("doc_id").cast("string"), F.lit("_composite.tif")).alias("fname"),
    )
    masks = docs.select(
        F.concat(F.col("source"), F.lit("_f"), F.col("doc_id").cast("string"), F.lit("_composite_udm2.tif")).alias("mname"),
        F.col("n_chars").alias("mask_quality"),
    )
    derived = F.regexp_replace(F.col("fname"), r"_composite\.tif$", "_composite_udm2.tif")
    return (
        files.join(masks, derived == masks["mname"], "left").select("doc_id", "mask_quality")
    )


# ---------------------------------------------------------------------------
# P9: CASE relabeling rule engine with the reference's exact rules.
@_q(
    "case_relabel",
    """
    SELECT event_id, label,
           CAST(CASE WHEN label = 12 AND confidence < 0.60 THEN 2
                     WHEN label = 16 THEN 2
                     ELSE label END AS INT) AS relabeled
    FROM (
      SELECT event_id,
             CAST(CASE event_type WHEN 'purchase' THEN 12 WHEN 'error' THEN 16
                  WHEN 'click' THEN 2 WHEN 'view' THEN 5 ELSE 7 END AS INT) AS label,
             value / 100.0 AS confidence
      FROM events
    )
    """,
)
def q_case_relabel(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events")
    label = (
        F.when(F.col("event_type") == "purchase", 12)
        .when(F.col("event_type") == "error", 16)
        .when(F.col("event_type") == "click", 2)
        .when(F.col("event_type") == "view", 5)
        .otherwise(7)
        .cast("int")
    )
    conf = F.col("value") / 100.0
    out = ev.select("event_id", label.alias("label"), conf.alias("confidence"))
    return out.select(
        "event_id",
        "label",
        solar_shadow_rules(F.col("label"), F.col("confidence")).cast("int").alias("relabeled"),
    )


# ---------------------------------------------------------------------------
# P5/P6: sentinel↔NULL normalization with null-ignoring aggregation.
@_q(
    "sentinel_normalize",
    f"""
    WITH raw AS (
      SELECT event_type,
             CASE WHEN value < 5 THEN -9999.0 ELSE value END AS v
      FROM events
    ),
    cleaned AS (
      SELECT event_type,
             CASE WHEN isnan(v) OR abs(v - (-9999.0)) < 0.01 THEN NULL ELSE v END AS v
      FROM raw
    )
    SELECT event_type,
           COUNT(v) AS n_valid,
           coalesce({sql_davg('v')}, -9999.0) AS mean_or_sentinel
    FROM cleaned GROUP BY event_type
    """,
)
def q_sentinel_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events")
    raw = ev.select(
        "event_type",
        F.when(F.col("value") < 5, F.lit(-9999.0)).otherwise(F.col("value")).alias("v"),
    )
    cleaned = raw.select("event_type", sentinel_to_null(F.col("v")).alias("v"))
    agg = cleaned.groupBy("event_type").agg(
        F.count("v").alias("n_valid"), davg(F.col("v")).alias("_mean")
    )
    return agg.select(
        "event_type", "n_valid", null_to_sentinel(F.col("_mean")).alias("mean_or_sentinel")
    )


# ---------------------------------------------------------------------------
# P10: null-pattern combo signature
# (`1_pixel_classification/pixel_classifier_stream.py:131-133`).
@_q(
    "null_signature",
    """
    SELECT concat_ws('_',
             CASE WHEN l_quantity > 10 THEN 'B1' END,
             CASE WHEN l_discount > 0.02 THEN 'B2' END,
             CASE WHEN l_tax > 0.0 THEN 'B3' END,
             CASE WHEN l_returnflag = 'R' THEN 'B4' END) AS combo_sig,
           COUNT(*) AS n_px
    FROM lineitem GROUP BY 1
    """,
)
def q_null_signature(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem")
    bands = [
        ("B1", F.when(F.col("l_quantity") > 10, F.col("l_quantity"))),
        ("B2", F.when(F.col("l_discount") > 0.02, F.col("l_discount"))),
        ("B3", F.when(F.col("l_tax") > 0.0, F.col("l_tax"))),
        ("B4", F.when(F.col("l_returnflag") == "R", F.lit(1))),
    ]
    sig = combo_signature(bands)
    return li.select(sig.alias("combo_sig")).groupBy("combo_sig").agg(
        F.count(F.lit(1)).alias("n_px")
    )


# ---------------------------------------------------------------------------
# P14/P15: md5 key shortening for long model names.
@_q(
    "md5_key",
    """
    SELECT doc_id,
           CASE WHEN length(source || '_' || text) > 100
                THEN md5(source || '_' || text)
                ELSE source || '_' || text END AS model_key
    FROM documents
    """,
)
def q_md5_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents")
    key = F.concat_ws("_", F.col("source"), F.col("text"))
    return docs.select("doc_id", hashed_model_key(key).alias("model_key"))


# ---------------------------------------------------------------------------
# S3/P16: regex-dated grouping — extract month from a path-shaped
# string (`0_preprocessing/feature_stacking.py:280-292`).
@_q(
    "month_regex_grouping",
    r"""
    SELECT CAST(regexp_extract('Tokyo_' || strftime(o_orderdate, '%Y%m%d') || '_scene',
                               'Tokyo_(\d{4})(\d{2})\d{2}', 2) AS INT) AS month,
           COUNT(*) AS n_scenes
    FROM orders GROUP BY 1
    """,
)
def q_month_regex_grouping(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = t(spark, sf_dir, "orders")
    path = F.concat(F.lit("Tokyo_"), F.date_format("o_orderdate", "yyyyMMdd"), F.lit("_scene"))
    month = F.regexp_extract(path, r"Tokyo_(\d{4})(\d{2})\d{2}", 2).cast("int")
    return orders.select(month.alias("month")).groupBy("month").agg(
        F.count(F.lit(1)).alias("n_scenes")
    )


# ---------------------------------------------------------------------------
# W2: ranking window — top-N orders per customer.
@_q(
    "window_rank",
    """
    SELECT o_custkey, o_orderkey, CAST(rn AS INT) AS rn
    FROM (
      SELECT o_custkey, o_orderkey,
             row_number() OVER (PARTITION BY o_custkey
                                ORDER BY o_totalprice DESC, o_orderkey) AS rn
      FROM orders
    ) WHERE rn <= 3
    """,
)
def q_window_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
    return (
        orders.select("o_custkey", "o_orderkey", F.row_number().over(w).alias("rn"))
        .where(F.col("rn") <= 3)
        .select("o_custkey", "o_orderkey", F.col("rn").cast("int").alias("rn"))
    )


# ---------------------------------------------------------------------------
# O1/limit: deterministic global top-k.
@_q(
    "topk_orders",
    """
    SELECT o_orderkey, o_totalprice
    FROM orders ORDER BY o_totalprice DESC, o_orderkey LIMIT 10
    """,
)
def q_topk_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = t(spark, sf_dir, "orders")
    return orders.orderBy(F.desc("o_totalprice"), F.asc("o_orderkey")).select(
        "o_orderkey", "o_totalprice"
    ).limit(10)


# ---------------------------------------------------------------------------
# U1/set ops: nations present in segment A but not B, and in both.
@_q(
    "set_ops",
    """
    WITH a AS (SELECT DISTINCT c_nationkey FROM customer WHERE c_mktsegment = 'BUILDING'),
         b AS (SELECT DISTINCT c_nationkey FROM customer WHERE c_mktsegment = 'AUTOMOBILE')
    SELECT c_nationkey, 'both' AS tag FROM (SELECT * FROM a INTERSECT SELECT * FROM b)
    UNION ALL
    SELECT c_nationkey, 'a_only' AS tag FROM (SELECT * FROM a EXCEPT SELECT * FROM b)
    """,
)
def q_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = t(spark, sf_dir, "customer")
    a = cust.where(F.col("c_mktsegment") == "BUILDING").select("c_nationkey").distinct()
    b = cust.where(F.col("c_mktsegment") == "AUTOMOBILE").select("c_nationkey").distinct()
    both = a.intersect(b).withColumn("tag", F.lit("both"))
    a_only = a.exceptAll(b).withColumn("tag", F.lit("a_only"))
    return both.unionByName(a_only)


# ---------------------------------------------------------------------------
# Grouping sets (free Spark extension): rollup over region/nation.
@_q(
    "rollup_acctbal",
    f"""
    SELECT r.r_name, n.n_name,
           COUNT(*) AS n_cust,
           {sql_dsum('c.c_acctbal')} AS sum_bal
    FROM customer c
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    GROUP BY ROLLUP (r.r_name, n.n_name)
    """,
)
def q_rollup_acctbal(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = t(spark, sf_dir, "customer")
    nation = t(spark, sf_dir, "nation")
    region = t(spark, sf_dir, "region")
    joined = cust.join(
        F.broadcast(nation), cust["c_nationkey"] == nation["n_nationkey"]
    ).join(F.broadcast(region), nation["n_regionkey"] == region["r_regionkey"])
    return joined.rollup("r_name", "n_name").agg(
        F.count(F.lit(1)).alias("n_cust"), dsum(F.col("c_acctbal")).alias("sum_bal")
    )


# ---------------------------------------------------------------------------
# Cube (free Spark extension).
@_q(
    "cube_lineitem",
    f"""
    SELECT l_returnflag, l_linestatus,
           COUNT(*) AS n, {sql_dsum('l_quantity')} AS sum_qty
    FROM lineitem
    GROUP BY CUBE (l_returnflag, l_linestatus)
    """,
)
def q_cube_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem")
    return li.cube("l_returnflag", "l_linestatus").agg(
        F.count(F.lit(1)).alias("n"), dsum(F.col("l_quantity")).alias("sum_qty")
    )


# ---------------------------------------------------------------------------
# Exact distinct aggregation.
@_q(
    "distinct_parts_per_brand",
    """
    SELECT p_brand,
           COUNT(DISTINCT p_type) AS n_types,
           COUNT(DISTINCT p_size) AS n_sizes
    FROM part GROUP BY p_brand
    """,
)
def q_distinct_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = t(spark, sf_dir, "part")
    return part.groupBy("p_brand").agg(
        F.countDistinct("p_type").alias("n_types"),
        F.countDistinct("p_size").alias("n_sizes"),
    )
