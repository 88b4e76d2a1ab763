"""Second batch of relational-core queries closing out the SURVEY §2
inventory: P11 (all-null drop), P12 (fillna), P13 (valid-label
filter), S13 (cache-validity filter), P17 (property-bag defaults),
P18 (deterministic parallel ID assignment), A5 (scalar max offset),
A8 (dict-merge union-dedup), S1 (glob include/exclude scan), S8
(overlay update as a relational merge).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..sources.sinks import overlay_update
from ._util import t, dsum, sql_dsum, registry

QUERIES, ORACLES, _q = registry()


# ---------------------------------------------------------------------------
# P11 + P12: drop rows whose pseudo-bands are ALL null (the reference
# skips all-NaN pixels, `1_pixel_classification/pixel_classifier_stream.py:131`),
# then fillna(0) the remaining partial nulls
# (`3_object_classification/object_classifier.py:111,142,177`).
@_q(
    "allnull_drop_fillna",
    """
    WITH px AS (
      SELECT l_orderkey, l_linenumber,
             CASE WHEN l_quantity > 25 THEN l_quantity END AS band1,
             CASE WHEN l_discount > 0.05 THEN l_discount END AS band2,
             CASE WHEN l_tax > 0.04 THEN l_tax END AS band3
      FROM lineitem
    )
    SELECT l_orderkey, l_linenumber,
           coalesce(band1, 0.0) AS band1,
           coalesce(band2, 0.0) AS band2,
           coalesce(band3, 0.0) AS band3
    FROM px
    WHERE band1 IS NOT NULL OR band2 IS NOT NULL OR band3 IS NOT NULL
    """,
)
def q_allnull_drop_fillna(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem")
    px = li.select(
        "l_orderkey",
        "l_linenumber",
        F.when(F.col("l_quantity") > 25, F.col("l_quantity")).alias("band1"),
        F.when(F.col("l_discount") > 0.05, F.col("l_discount")).alias("band2"),
        F.when(F.col("l_tax") > 0.04, F.col("l_tax")).alias("band3"),
    )
    kept = px.na.drop(how="all", subset=["band1", "band2", "band3"])
    return kept.na.fill(0.0, subset=["band1", "band2", "band3"])


# ---------------------------------------------------------------------------
# P13 + S13: training-set validity filter (0 < label <= 255) and the
# cache-file size filter (> 1 KiB), combined over `part`.
@_q(
    "validity_filters",
    """
    SELECT p_brand, COUNT(*) AS n_valid
    FROM part
    WHERE p_size > 0 AND p_size <= 40 AND p_retailprice > 930.0
    GROUP BY p_brand
    """,
)
def q_validity_filters(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = t(spark, sf_dir, "part")
    return (
        part.where(
            (F.col("p_size") > 0)
            & (F.col("p_size") <= 40)
            & (F.col("p_retailprice") > 930.0)
        )
        .groupBy("p_brand")
        .agg(F.count(F.lit(1)).alias("n_valid"))
    )


# ---------------------------------------------------------------------------
# P17: property-bag access with default — props.get(k, 0) or 0
# (`3_object_classification/object_classifier.py:171`) over the JSON
# props column, including a key that never exists.
@_q(
    "property_bag_defaults",
    """
    SELECT event_type,
           CAST(SUM(coalesce(CAST(json_extract_string(props, '$.k') AS INT), 0)) AS BIGINT) AS sum_k,
           CAST(SUM(coalesce(CAST(json_extract_string(props, '$.missing') AS INT), 0)) AS BIGINT) AS sum_missing
    FROM events GROUP BY event_type
    """,
)
def q_property_bag_defaults(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events")
    k = F.coalesce(F.get_json_object("props", "$.k").cast("int"), F.lit(0))
    missing = F.coalesce(F.get_json_object("props", "$.missing").cast("int"), F.lit(0))
    # Spark SUM(INT) -> BIGINT, DuckDB SUM(INT) -> HUGEINT; cast BOTH sides to
    # BIGINT so the driver's exact value-hash compares like with like.
    return ev.groupBy("event_type").agg(
        F.sum(k).cast("bigint").alias("sum_k"),
        F.sum(missing).cast("bigint").alias("sum_missing"),
    )


# ---------------------------------------------------------------------------
# P18: order-free deterministic ID assignment — the engine's
# replacement for the reference's sequential `max+1` offset chain
# (`2_segmentation/image_segmentation.py:120,150,164`):
# global_id = group_ordinal * K + local_ordinal, fully parallel.
@_q(
    "deterministic_ids",
    """
    WITH local AS (
      SELECT doc_id, source,
             row_number() OVER (PARTITION BY source ORDER BY doc_id) AS local_id,
             dense_rank() OVER (ORDER BY source) AS src_ordinal
      FROM documents
    )
    SELECT doc_id, CAST(src_ordinal * 10000000 + local_id AS BIGINT) AS global_seg_id
    FROM local
    """,
)
def q_deterministic_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    # dense_rank() OVER (ORDER BY source) on the RAW table would be a
    # single-partition window over every document; the same ordinal is
    # the rank of the DISTINCT source — a dimension-sized aggregate —
    # broadcast back. The per-source row_number stays partitioned.
    docs = t(spark, sf_dir, "documents")
    w_local = Window.partitionBy("source").orderBy("doc_id")
    src_ord = (
        docs.select("source")
        .distinct()
        .select(
            "source",
            F.row_number().over(Window.orderBy("source")).alias("src_ordinal"),
        )
    )
    local = docs.select(
        "doc_id", "source", F.row_number().over(w_local).alias("local_id")
    ).join(F.broadcast(src_ord), "source")
    return local.select(
        "doc_id",
        (F.col("src_ordinal").cast("bigint") * 10_000_000 + F.col("local_id")).alias(
            "global_seg_id"
        ),
    )


# ---------------------------------------------------------------------------
# A5: scalar max + offset (`core_labels_global.max()` → next ID base,
# `2_segmentation/image_segmentation.py:164`).
@_q(
    "scalar_max_offset",
    "SELECT max(o_orderkey) + 1 AS next_id, COUNT(*) AS n FROM orders",
)
def q_scalar_max_offset(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = t(spark, sf_dir, "orders")
    return orders.agg(
        (F.max("o_orderkey") + 1).alias("next_id"), F.count(F.lit(1)).alias("n")
    )


# ---------------------------------------------------------------------------
# A8: dict-merge accumulation — union of per-source prediction tables,
# later sources override earlier ones (`preds_map.update(...)`,
# `3_object_classification/object_classifier.py:135-146`) = max_by on
# source priority after union.
@_q(
    "union_dedup_last",
    """
    WITH preds AS (
      SELECT l_orderkey AS seg_id, CAST(max(l_partkey) % 7 AS INT) AS pred, 1 AS priority
      FROM lineitem WHERE l_linenumber = 1 GROUP BY l_orderkey
      UNION ALL
      SELECT l_orderkey AS seg_id, CAST(max(l_suppkey) % 7 AS INT) AS pred, 2 AS priority
      FROM lineitem WHERE l_linenumber = 2 GROUP BY l_orderkey
    )
    SELECT seg_id, max_by(pred, priority) AS pred
    FROM preds GROUP BY seg_id
    """,
)
def q_union_dedup_last(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem")
    p1 = (
        li.where(F.col("l_linenumber") == 1)
        .groupBy(F.col("l_orderkey").alias("seg_id"))
        .agg((F.max("l_partkey") % 7).cast("int").alias("pred"))
        .withColumn("priority", F.lit(1))
    )
    p2 = (
        li.where(F.col("l_linenumber") == 2)
        .groupBy(F.col("l_orderkey").alias("seg_id"))
        .agg((F.max("l_suppkey") % 7).cast("int").alias("pred"))
        .withColumn("priority", F.lit(2))
    )
    merged = p1.unionByName(p2)
    return merged.groupBy("seg_id").agg(F.max_by("pred", "priority").alias("pred"))


# ---------------------------------------------------------------------------
# S1: glob include/exclude scan — discover `*_composite.tif`, exclude
# `*_udm2.tif` (`0_preprocessing/feature_stacking.py:67-70`), as
# LIKE/NOT LIKE over a derived file listing.
@_q(
    "glob_scan_filter",
    """
    WITH files AS (
      SELECT doc_id,
             source || '/f' || CAST(doc_id AS VARCHAR) ||
             CASE WHEN doc_id % 3 = 0 THEN '_composite_udm2.tif' ELSE '_composite.tif' END AS path
      FROM documents
    )
    SELECT doc_id, path FROM files
    WHERE path LIKE '%_composite.tif' AND path NOT LIKE '%_udm2.tif'
    """,
)
def q_glob_scan_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents")
    path = F.concat(
        F.col("source"),
        F.lit("/f"),
        F.col("doc_id").cast("string"),
        F.when(F.col("doc_id") % 3 == 0, F.lit("_composite_udm2.tif")).otherwise(
            F.lit("_composite.tif")
        ),
    )
    files = docs.select("doc_id", path.alias("path"))
    return files.where(
        F.col("path").like("%_composite.tif") & ~F.col("path").like("%_udm2.tif")
    )


# ---------------------------------------------------------------------------
# S8: in-place scatter update as a relational overlay merge — new
# window values win, untouched pixels persist, appends allowed
# (`1_pixel_classification/pixel_classifier_stream.py:166-175`).
@_q(
    "overlay_update",
    f"""
    WITH existing AS (
      SELECT l_orderkey AS seg_id, {sql_dsum('l_quantity')} AS val
      FROM lineitem GROUP BY l_orderkey
    ),
    updates AS (
      SELECT l_orderkey AS seg_id, {sql_dsum('l_extendedprice')} AS val
      FROM lineitem WHERE l_returnflag = 'R' GROUP BY l_orderkey
    )
    SELECT coalesce(e.seg_id, u.seg_id) AS seg_id,
           coalesce(u.val, e.val) AS val
    FROM existing e FULL OUTER JOIN updates u ON e.seg_id = u.seg_id
    """,
)
def q_overlay_update(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem")
    existing = li.groupBy(F.col("l_orderkey").alias("seg_id")).agg(
        dsum(F.col("l_quantity")).alias("val")
    )
    updates = (
        li.where(F.col("l_returnflag") == "R")
        .groupBy(F.col("l_orderkey").alias("seg_id"))
        .agg(dsum(F.col("l_extendedprice")).alias("val"))
    )
    return overlay_update(existing, updates, ["seg_id"], ["val"])
