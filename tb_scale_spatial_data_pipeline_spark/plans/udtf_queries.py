"""Python UDTF and VARIANT surfaces (Spark ≥ 3.5 / 4.0).

The reference's UDTF-style one-to-many shape is its polygonization —
many polygons out per tile in (`2_segmentation/image_segmentation.py:
160-162`, see SURVEY §2.7). That kernel runs as `applyInPandas`; this
module covers the other half of the surface: a registered Python UDTF
consumed via SQL LATERAL, and Spark's binary VARIANT type for
semi-structured data.

Scale posture:
- The UDTF is the *API-surface* demo; the JVM fast path for the same
  job (posexplode over split) is already in the registry
  (`posexplode_embeddings`, `tfidf_topk`). Arrow-optimized UDTFs
  batch rows, but a built-in generator expression always wins — the
  docstring IS the guidance: reach for a UDTF only when per-row
  imperative logic cannot be expressed with generators.
- VARIANT parses JSON once into a binary form; repeated
  `get_json_object` calls re-parse the string per extraction. With
  many extractions per row at 100 TB, parse-once is the right plan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.catalog import register_views
from ._util import t, registry

QUERIES, ORACLES, _q = registry()


# ---------------------------------------------------------------------------
# Python UDTF consumed through SQL LATERAL: per document emit
# (pos, term) for every term of length ≥ 5. Deterministic row-wise
# expansion; the DuckDB twin is a lateral unnest over the same split.
@_q(
    "udtf_term_positions",
    r"""
    WITH toks AS (
      SELECT doc_id, string_split_regex(trim(text), '\s+') AS ts
      FROM documents
    )
    SELECT doc_id, CAST(u.i AS INT) AS pos, ts[u.i] AS term
    FROM toks, unnest(generate_series(1, len(ts))) AS u(i)
    WHERE length(ts[u.i]) >= 5
    """,
)
def q_udtf_term_positions(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.functions import udtf

    @udtf(returnType="pos int, term string")
    class TermPositions:
        def eval(self, text: str):
            if text is None:
                return
            for i, term in enumerate(text.split(), start=1):
                if len(term) >= 5:
                    yield i, term

    spark.udtf.register("term_positions", TermPositions)
    register_views(spark, sf_dir)
    return spark.sql(
        """
        SELECT d.doc_id, tp.pos, tp.term
        FROM documents d, LATERAL term_positions(d.text) tp
        """
    )


# ---------------------------------------------------------------------------
# VARIANT: parse the JSON props column once into Spark's binary
# variant form, extract with variant_get, aggregate. get_json_object
# re-parses the string on every extraction; variant parses once per
# row — the 100 TB-relevant difference when extracting many fields.
@_q(
    "variant_props_stats",
    """
    SELECT CAST(floor(CAST(json_extract(props, '$.k') AS INT) / 10) AS INT)
             AS k_decile,
           COUNT(*) AS n,
           CAST(SUM(CAST(json_extract(props, '$.k') AS INT)) AS BIGINT)
             AS sum_k
    FROM events
    WHERE json_extract(props, '$.k') IS NOT NULL
    GROUP BY k_decile
    """,
)
def q_variant_props_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events")
    k = F.variant_get(F.parse_json(F.col("props")), "$.k", "int")
    return (
        ev.select(k.alias("k"))
        .where(F.col("k").isNotNull())
        .groupBy(F.floor(F.col("k") / 10).cast("int").alias("k_decile"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("k").cast("bigint").alias("sum_k"),
        )
    )


# ---------------------------------------------------------------------------
# Custom Python DataSource scan (Spark 4 datasource API): per-tile
# checksums over the deterministic rastergen source. The DuckDB twin
# regenerates the identical pixels with generate_series — a
# hash-checkable correctness gate for a custom *source*, proving the
# partition-per-tile scan yields exactly the declared rows.
@_q(
    "datasource_raster_scan",
    f"""
    WITH px AS (
      SELECT tx.i AS tile_x, ty.i AS tile_y,
             tx.i * {32} + x.i AS gx, ty.i * {32} + y.i AS gy
      FROM unnest(generate_series(0, 1)) AS tx(i),
           unnest(generate_series(0, 1)) AS ty(i),
           unnest(generate_series(0, {32 - 1})) AS x(i),
           unnest(generate_series(0, {32 - 1})) AS y(i)
    )
    SELECT CAST(tile_x AS INT) AS tile_x, CAST(tile_y AS INT) AS tile_y,
           COUNT(*) AS n_px,
           CAST(SUM((gx * 31 + gy * 17 + 7) % 256) AS DOUBLE) AS sum_b1,
           CAST(SUM((gx * 31 + gy * 17 + 14) % 256) AS DOUBLE) AS sum_b2,
           CAST(SUM((gx * 31 + gy * 17 + 21) % 256) AS DOUBLE) AS sum_b3
    FROM px GROUP BY tile_x, tile_y
    """,
)
def q_datasource_raster_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.rastergen import register

    register(spark)
    px = (
        spark.read.format("rastergen")
        .option("tiles_x", "2")
        .option("tiles_y", "2")
        .load()
    )
    return px.groupBy("tile_x", "tile_y").agg(
        F.count(F.lit(1)).alias("n_px"),
        F.sum("b1").alias("sum_b1"),
        F.sum("b2").alias("sum_b2"),
        F.sum("b3").alias("sum_b3"),
    )


# ---------------------------------------------------------------------------
# GeoTIFF adapter round trip as a hash-checked query: a closed-form
# raster goes out through tile_table_to_tiff, back in through
# tiff_to_tile_table, and is block-aggregated; the DuckDB twin
# regenerates the identical pixels from generate_series. A value
# mismatch anywhere in the codec path (byte layout, dtype, band
# order) breaks the hash.
@_q(
    "tiff_roundtrip_scan",
    """
    WITH px AS (
      SELECT x.i AS x, y.i AS y,
             CAST((x.i * 31 + y.i * 17 + 7) % 256 AS DOUBLE) AS b1
      FROM unnest(generate_series(0, 31)) AS x(i),
           unnest(generate_series(0, 31)) AS y(i)
    )
    SELECT CAST(x // 8 AS INT) AS block_x, CAST(y // 8 AS INT) AS block_y,
           COUNT(*) AS n_px, CAST(SUM(b1) AS DOUBLE) AS sum_b1
    FROM px GROUP BY block_x, block_y
    """,
)
def q_tiff_roundtrip_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    import contextlib
    import os
    import tempfile
    import uuid

    from ..sources import geotiff
    from ..sources.geotiff import tiff_to_tile_table, tile_table_to_tiff

    px = spark.range(32 * 32).select(
        (F.col("id") % 32).cast("int").alias("x"),
        (F.col("id") / 32).cast("int").alias("y"),
    )
    px = px.withColumn(
        "b1", ((F.col("x") * 31 + F.col("y") * 17 + 7) % 256).cast("double")
    )
    # per-process unique path: two concurrent sweeps racing on one
    # fixed filename could interleave write/read into a corrupt scan
    path = os.path.join(
        tempfile.gettempdir(), f"tb_tiff_roundtrip_{os.getpid()}_{uuid.uuid4().hex}.tif"
    )
    # reference sink profile: LZW + internal tiling + BigTIFF
    # (`0_preprocessing/feature_stacking.py:226-235`; tile size scaled
    # to the 32x32 fixture — production uses 1024x1024)
    tile_table_to_tiff(
        px, path, ["b1"], compression="lzw", tile=(16, 16), bigtiff=True
    )
    try:
        back = tiff_to_tile_table(spark, path, band_names=["b1"])
    finally:
        # the built-in codec path has already read the file eagerly;
        # the rasterio path reads lazily at execution, so keep it
        if geotiff._rasterio is None:
            with contextlib.suppress(OSError):
                os.remove(path)
    return back.groupBy(
        F.floor(F.col("x") / 8).cast("int").alias("block_x"),
        F.floor(F.col("y") / 8).cast("int").alias("block_y"),
    ).agg(
        F.count(F.lit(1)).alias("n_px"),
        F.sum("b1").cast("double").alias("sum_b1"),
    )


# ---------------------------------------------------------------------------
# Block-mean downsampling — the RELATIONAL raster operator: coarsening
# a grid by k×k block aggregation is a pure groupBy on integer-divided
# coordinates, fully oracle-checkable (unlike the stencil kernels,
# which need halo state). One map-side-combinable pass; at 100 TB this
# is how overview pyramids build — level N+1 is one aggregation over
# level N, never a gather.
@_q(
    "raster_downsample_mean",
    f"""
    WITH px AS (
      SELECT tx.i * 32 + x.i AS gx, ty.i * 32 + y.i AS gy
      FROM unnest(generate_series(0, 1)) AS tx(i),
           unnest(generate_series(0, 1)) AS ty(i),
           unnest(generate_series(0, 31)) AS x(i),
           unnest(generate_series(0, 31)) AS y(i)
    )
    SELECT CAST(gx // 4 AS BIGINT) AS bx, CAST(gy // 4 AS BIGINT) AS by,
           COUNT(*) AS n_px,
           round(CAST(SUM((gx * 31 + gy * 17 + 7) % 256) AS DOUBLE)
                 / COUNT(*), 6) AS mean_b1
    FROM px GROUP BY 1, 2
    """,
)
def q_raster_downsample_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.rastergen import register

    register(spark)
    px = (
        spark.read.format("rastergen")
        .option("tiles_x", "2")
        .option("tiles_y", "2")
        .load()
    )
    return px.groupBy(
        F.floor(F.col("x") / 4).cast("bigint").alias("bx"),
        F.floor(F.col("y") / 4).cast("bigint").alias("by"),
    ).agg(
        F.count(F.lit(1)).alias("n_px"),
        F.round(F.sum("b1") / F.count(F.lit(1)), 6).alias("mean_b1"),
    )


# ---------------------------------------------------------------------------
# Per-pixel temporal trend — least-squares slope of value vs scene
# index for EVERY pixel, one grouped aggregation of exact regression
# sums (n, Σs, Σv, Σsv, Σs²): the "fit a tiny model per key" shape at
# raster scale, map-side combinable, no per-group iteration. Masked
# observations (the deterministic cloud pattern) drop out as NULLs so
# per-pixel n varies — exactly the reference's masked-composite
# regime (`0_preprocessing/feature_stacking.py:131-135`), extended
# from median/argmax to trend.
@_q(
    "pixel_trend_regression",
    """
    WITH obs AS (
      SELECT x.i AS gx, y.i AS gy, s.i AS s,
             CASE WHEN (x.i + y.i + s.i) % 7 = 0 THEN NULL
                  ELSE CAST((x.i * 31 + y.i * 17) % 97 + s.i * (x.i % 5)
                       AS DOUBLE) END AS val
      FROM unnest(generate_series(0, 31)) AS x(i),
           unnest(generate_series(0, 23)) AS y(i),
           unnest(generate_series(0, 5)) AS s(i)
    )
    SELECT CAST(gx AS BIGINT) AS gx, CAST(gy AS BIGINT) AS gy,
           CAST(COUNT(val) AS BIGINT) AS n_obs,
           round((COUNT(val) * SUM(s * val) - SUM(CASE WHEN val IS NOT NULL
                                                       THEN s END) * SUM(val))
                 / (COUNT(val) * SUM(CASE WHEN val IS NOT NULL
                                          THEN s * s END)
                    - SUM(CASE WHEN val IS NOT NULL THEN s END)
                      * SUM(CASE WHEN val IS NOT NULL THEN s END)), 6)
             AS slope
    FROM obs
    GROUP BY gx, gy
    """,
)
def q_pixel_trend_regression(spark: SparkSession, sf_dir: str) -> DataFrame:
    spark_ = t(spark, sf_dir, "part").sparkSession
    obs = (
        spark_.range(32)
        .select(F.col("id").cast("int").alias("gx"))
        .select("gx", F.explode(F.sequence(F.lit(0), F.lit(23))).alias("gy"))
        .select("gx", "gy", F.explode(F.sequence(F.lit(0), F.lit(5))).alias("s"))
        .select(
            "gx",
            "gy",
            "s",
            F.when(
                (F.col("gx") + F.col("gy") + F.col("s")) % 7 == 0, F.lit(None)
            )
            .otherwise(
                ((F.col("gx") * 31 + F.col("gy") * 17) % 97
                 + F.col("s") * (F.col("gx") % 5)).cast("double")
            )
            .alias("val"),
        )
    )
    sv = F.when(F.col("val").isNotNull(), F.col("s"))
    agg = obs.groupBy("gx", "gy").agg(
        F.count("val").alias("n_obs"),
        F.sum(F.col("s") * F.col("val")).alias("ssv"),
        F.sum(sv).alias("ss"),
        F.sum("val").alias("svl"),
        F.sum(sv * sv).alias("ss2"),
    )
    n = F.col("n_obs").cast("double")
    slope = (n * F.col("ssv") - F.col("ss") * F.col("svl")) / (
        n * F.col("ss2") - F.col("ss") * F.col("ss")
    )
    return agg.select(
        F.col("gx").cast("bigint").alias("gx"),
        F.col("gy").cast("bigint").alias("gy"),
        F.col("n_obs").cast("bigint").alias("n_obs"),
        F.round(slope, 6).alias("slope"),
    )
