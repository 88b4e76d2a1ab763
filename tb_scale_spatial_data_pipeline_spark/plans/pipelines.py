"""The reference's four pipeline lifecycles (SURVEY §3 E1–E4)
re-expressed as DataFrame programs over deterministic synthetic
rasters — plus rows-only query registrations for the raster kernels,
ML layer, and Structured Streaming operators (non-SQL-expressible →
driver records the weaker rows-only check; invariants are covered by
pytest property tests instead).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.indices import ndvi, ndwi
from ..functions.sentinels import null_to_sentinel, sentinel_to_null
from ..operators.composites import argmax_composite, grouped_median
from ..operators.relabel import solar_shadow_rules
from ..raster.kernels import gaussian_smooth_tiles, reproject_tiles
from ..raster.segmentation import segment_shape_metrics, segment_tiles
from ..raster.tiles import halo_duplicate, synthetic_raster
from ._util import registry
from .checkpoint import stage, stage_root

QUERIES, ORACLES, _q = registry()


# ---------------------------------------------------------------------------
# E1 — feature-stack build (`0_preprocessing/feature_stacking.py:298-366`):
# multi-scene synthesis → per-scene NDVI + nodata masking → grouped
# median composite (A1) + max-NDVI argmax composite (A2) → grid zip
# join (J4) into the final per-pixel feature stack.
def _scenes(spark: SparkSession, width: int = 64, height: int = 64, n_scenes: int = 6) -> DataFrame:
    base = synthetic_raster(spark, width, height, bands=2)
    scenes = None
    for s in range(1, n_scenes + 1):
        sc = base.select(
            "x",
            "y",
            F.lit(s).alias("scene"),
            (F.col("b1") + s * 3.0).alias("red"),
            (F.col("b2") + s * 5.0).alias("nir"),
        )
        # deterministic per-scene cloud mask → sentinel nodata (P5/P6)
        masked = sc.withColumn(
            "nir",
            F.when((F.col("x") + F.col("y") + F.col("scene")) % 7 == 0, F.lit(-9999.0)).otherwise(
                F.col("nir")
            ),
        )
        scenes = masked if scenes is None else scenes.unionByName(masked)
    return scenes


# r13: oracle-paired. The composed float chain WAS rows-only ("no SQL
# twin for float kernels"), but every term is a closed-form trig field
# both engines evaluate with the same IEEE expression tree — the exact
# discipline the hash-green terrain oracles (raster_queries.py
# _sql_terrain_slope etc.) already prove holds cross-engine on this
# box. The twin recomputes the 6-scene synthetic stack, the nanmedian
# (DuckDB median ignores NULLs and interpolates even counts exactly
# like F.median), and the argmax with the struct-order tiebreak
# (ndvi DESC, red DESC, nir DESC == max(struct(ndvi, red, nir))).
@_q(
    "pipeline_feature_stack",
    """
    WITH grid AS (
      SELECT CAST(gx.x AS INTEGER) AS x, CAST(gy.y AS INTEGER) AS y
      FROM (SELECT unnest(generate_series(0, 63)) AS x) gx,
           (SELECT unnest(generate_series(0, 63)) AS y) gy
    ),
    base AS (
      SELECT x, y,
             sin(CAST(x AS DOUBLE) / 10.0) * 40.0
               + cos(CAST(y AS DOUBLE) / 12.0) * 40.0 + 100.0
               + CASE WHEN (CAST(x AS DOUBLE) - 35.0) * (CAST(x AS DOUBLE) - 35.0)
                        + (CAST(y AS DOUBLE) - 30.0) * (CAST(y AS DOUBLE) - 30.0)
                      < 400.0 THEN 80.0 ELSE 0.0 END AS b1,
             sin(CAST(x AS DOUBLE) / 11.0) * 40.0
               + cos(CAST(y AS DOUBLE) / 13.0) * 40.0 + 100.0
               + CASE WHEN (CAST(x AS DOUBLE) - 38.0) * (CAST(x AS DOUBLE) - 38.0)
                        + (CAST(y AS DOUBLE) - 28.0) * (CAST(y AS DOUBLE) - 28.0)
                      < 400.0 THEN 80.0 ELSE 0.0 END AS b2
      FROM grid
    ),
    scenes AS (
      SELECT b.x, b.y, t.s,
             b.b1 + t.s * 3.0 AS red,
             CASE WHEN (b.x + b.y + t.s) % 7 = 0 THEN NULL
                  ELSE b.b2 + t.s * 5.0 END AS nir
      FROM base b, range(1, 7) t(s)
    ),
    idx AS (
      SELECT x, y, red, nir,
             (nir - red) / (nir + red + 1e-9) AS ndvi
      FROM scenes
    ),
    med AS (
      SELECT x, y, median(ndvi) AS m FROM idx GROUP BY x, y
    ),
    win AS (
      SELECT x, y, ndvi, red, nir FROM idx
      WHERE nir IS NOT NULL
      QUALIFY row_number() OVER (
        PARTITION BY x, y ORDER BY ndvi DESC, red DESC, nir DESC) = 1
    )
    SELECT m.x, m.y,
           round(COALESCE(m.m, -9999.0), 6) AS median_ndvi,
           round(COALESCE(w.ndvi, -9999.0), 6) AS max_ndvi,
           round(COALESCE((w.red - w.nir) / (w.red + w.nir + 1e-9),
                          -9999.0), 6) AS winter_ndwi
    FROM med m LEFT JOIN win w ON w.x = m.x AND w.y = m.y
    ORDER BY m.x, m.y
    """,
)
def e1_feature_stack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E1 stage product, memoized on disk (SURVEY §4 exists-skip):
    shared verbatim with `pipeline_full_chain`'s first stage."""
    return stage(
        spark, f"{stage_root(sf_dir)}/e1_stack", lambda: _build_e1(spark)
    )


def _build_e1(spark: SparkSession) -> DataFrame:
    scenes = _scenes(spark)
    px = scenes.select(
        "x",
        "y",
        "scene",
        sentinel_to_null(F.col("red")).alias("red"),
        sentinel_to_null(F.col("nir")).alias("nir"),
    )
    px = px.withColumn("ndvi", ndvi(F.col("nir"), F.col("red")))
    med = grouped_median(px, ["x", "y"], "ndvi", out_col="median_ndvi")
    winner = argmax_composite(px, ["x", "y"], "ndvi", ["red", "nir"])
    stack = med.join(winner, ["x", "y"], "left")
    return stack.select(
        "x",
        "y",
        F.round(null_to_sentinel(F.col("median_ndvi")), 6).alias("median_ndvi"),
        F.round(null_to_sentinel(F.col("max_ndvi")), 6).alias("max_ndvi"),
        F.round(null_to_sentinel(ndwi(F.col("red"), F.col("nir"))), 6).alias("winter_ndwi"),
    )


# ---------------------------------------------------------------------------
# E2 — pixel classification (`1_pixel_classification/
# pixel_classifier_stream.py`): RF inference over the pixel feature
# stack + heuristic CASE relabeling. Labels for training are a
# deterministic function of the synthetic scene geometry.
#
# r14: oracle-paired (was rows-only). The fixture is a discrete
# integer lattice — b1/b2/b3 take values {0, 64, 128, 192} as exact
# doubles, the label is a threshold decision list on b1/b2, and the
# (x+y)%3==0 training split covers ALL 16 distinct (b1, b2) feature
# vectors (x ≡ a, y ≡ b mod 4 with i+j ≡ -(a+b) mod 3 is always
# solvable on a 64×64 grid). With featureSubsetStrategy="all" every
# tree's greedy split sequence is deterministic over a perfectly
# separable training set, so every scored point lands in a pure,
# correctly-labeled leaf of every tree: prediction == the generating
# CASE rule and confidence == exactly 1.0, unanimously. The SQL twin
# is therefore the closed-form rule; tests/test_pipelines.py asserts
# the unanimity invariant so any Spark-ML behavior drift is caught
# locally before the driver sweep.
# With conf == 1.0 the solar/shadow relabel (P9) reduces to
# SHADOW(16) → URBAN(2); SOLAR(12) keeps (conf ≥ 0.60).
@_q(
    "pipeline_pixel_classification",
    """
    WITH px AS (
      SELECT CAST(i % 64 AS BIGINT) AS x,
             CAST(i // 64 AS BIGINT) AS y
      FROM range(4096) t(i)
    )
    SELECT x, y,
           CAST(CASE WHEN x % 4 = 3 THEN 12
                     WHEN y % 4 = 3 THEN 16
                     ELSE 2 END AS INTEGER) AS pred,
           CAST(CASE WHEN x % 4 = 3 THEN 12 ELSE 2 END AS INTEGER)
             AS final_label
    FROM px ORDER BY x, y
    """,
)
def e2_pixel_classification(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E2 stage product, memoized on disk — the (eager) RF fit only
    runs when the stage is missing."""
    return stage(
        spark, f"{stage_root(sf_dir)}/e2_pixels", lambda: _build_e2(spark)
    )


def _build_e2(spark: SparkSession) -> DataFrame:
    from ..ml.classify import predict, train_rf

    px = (
        spark.range(4096)
        .select(
            (F.col("id") % 64).alias("x"),
            F.expr("id div 64").alias("y"),
        )
        .select(
            "x",
            "y",
            ((F.col("x") % 4) * 64).cast("double").alias("b1"),
            ((F.col("y") % 4) * 64).cast("double").alias("b2"),
            (((F.col("x") + F.col("y")) % 4) * 64).cast("double").alias("b3"),
        )
    )
    labeled = px.withColumn(
        "label",
        F.when(F.col("b1") > 150, 12).when(F.col("b2") > 150, 16).otherwise(2).cast("double"),
    )
    train = labeled.where((F.col("x") + F.col("y")) % 3 == 0)
    model = train_rf(
        train,
        ["b1", "b2", "b3"],
        "label",
        num_trees=20,
        max_depth=8,
        feature_subset_strategy="all",
    )
    scored = predict(model, labeled.drop("label"), out_col="pred")
    out = scored.withColumn(
        "final_label",
        solar_shadow_rules(F.col("pred"), F.col("pred_conf")).cast("int"),
    )
    return out.select("x", "y", "pred", "final_label")


# ---------------------------------------------------------------------------
# E3 — tiled segmentation (`2_segmentation/image_segmentation.py`):
# halo-tiled Felzenszwalb → shape metrics + polygonization.
#
# r15: oracle-paired (was rows-only), via the r14 E2 exact-lattice
# recipe. The fixture is a 96×96 piecewise-constant region lattice —
# 4 tiles of 48×48 (tile_size=48, halo=8), each tile core containing 6
# axis-aligned rectangles (types A..F, ≥108 px each, mirrored layout on
# odd tile columns so every type occurs at both even and odd canonical
# keys). Pixel value = region_code * 64, so every intra-region 4-edge
# has weight exactly 0 and every cross-region edge has weight ≥ 64.
# FH04's merge condition is w <= min(Int(C)+scale/|C|): the zero edges
# sort first and fully form each region (Int stays 0), after which no
# cross edge can merge because 64 > scale(35) >= scale/|C| for any
# component size — including halo-clipped foreign slivers, so the
# partition is provably the region map regardless of tile window.
# min_size=15 absorption can only attach foreign halo slivers (<15 px
# clips) to some neighbor; it can never bridge two core regions (after
# one absorption both sides are >= 15). The metrics of an axis-aligned
# rectangle are closed-form (area=wh, perimeter=2(w+h), 4 vertices,
# bbox ring WKT), so the DuckDB twin enumerates the 24 regions and
# computes the same arithmetic. seg ids are relabeled to the canonical
# segment_key = min(y*96+x) to erase the tile-local id scheme (P18),
# which the oracle cannot (and need not) reproduce.
#
# Region layout per 48×48 tile (normal / mirrored for odd tile_x):
#   band y+[0,12):  A 39×12 @x+0 (mirr @x+9),  B  9×12 @x+39 (mirr @x+0)
#   band y+[12,28): C 15×16 @x+0 (mirr @x+33), D 33×16 @x+15 (mirr @x+0)
#   band y+[28,48): E 25×20 @x+0 (mirr @x+23), F 23×20 @x+25 (mirr @x+0)
_E3_SHAPES = [
    # (type_idx, w, h, band_y0, x_normal, x_mirrored)
    (1, 39, 12, 0, 0, 9),
    (2, 9, 12, 0, 39, 0),
    (3, 15, 16, 12, 0, 33),
    (4, 33, 16, 12, 15, 0),
    (5, 25, 20, 28, 0, 23),
    (6, 23, 20, 28, 25, 0),
]


def _e3_regions(spark: SparkSession) -> DataFrame:
    rows = []
    for ty in range(2):
        for tx in range(2):
            for t, w, h, y0r, xn, xm in _E3_SHAPES:
                x0 = tx * 48 + (xm if tx % 2 == 1 else xn)
                y0 = ty * 48 + y0r
                code = (ty * 2 + tx) * 6 + t
                rows.append((x0, y0, w, h, code))
    return spark.createDataFrame(rows, "x0 int, y0 int, w int, h int, code int")


_E3_REGION_SQL = """
    SELECT (tt.tx * 48 + CASE WHEN tt.tx % 2 = 1 THEN s.xm ELSE s.xn END) AS x0,
           (tt.ty * 48 + s.y0r) AS y0,
           s.w AS w, s.h AS h
    FROM (VALUES (0, 0), (1, 0), (0, 1), (1, 1)) tt(tx, ty),
         (VALUES (39, 12, 0, 0, 9), (9, 12, 0, 39, 0),
                 (15, 16, 12, 0, 33), (33, 16, 12, 15, 0),
                 (25, 20, 28, 0, 23), (23, 20, 28, 25, 0)) s(w, h, y0r, xn, xm)
"""


@_q(
    "pipeline_segmentation",
    f"""
    WITH regions AS ({_E3_REGION_SQL})
    SELECT CAST(y0 * 96 + x0 AS BIGINT) AS segment_key,
           'POLYGON((' || x0 || ' ' || y0 || ', ' || (x0 + w) || ' ' || y0
             || ', ' || (x0 + w) || ' ' || (y0 + h) || ', ' || x0 || ' '
             || (y0 + h) || ', ' || x0 || ' ' || y0 || '))' AS geometry,
           CAST(w * h AS BIGINT) AS area,
           CAST(2 * (w + h) AS BIGINT) AS perimeter,
           round(CAST(w * h AS DOUBLE) / (w * h), 6) AS rectangularity,
           round(CAST(greatest(w, h) AS DOUBLE) / least(w, h), 6) AS elongation,
           round((4 * pi()) * (w * h) / ((2 * (w + h)) * (2 * (w + h))), 6)
             AS compactness,
           round((2 * (w + h)) / (4 * sqrt(w * h)), 6) AS shape_index,
           4 AS num_vertices,
           round(4.0 / (2 * (w + h)), 6) AS vertex_density
    FROM regions ORDER BY segment_key
    """,
)
def e3_segmentation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E3 stage product, memoized on disk — shared with
    `pipeline_object_classification`, which trains on these metrics."""
    return stage(
        spark, f"{stage_root(sf_dir)}/e3_metrics", lambda: _build_e3(spark)
    )


def _build_e3(spark: SparkSession) -> DataFrame:
    regions = _e3_regions(spark)
    px = spark.range(96 * 96).select(
        (F.col("id") % 96).cast("int").alias("x"),
        F.expr("CAST(id DIV 96 AS INT)").alias("y"),
    )
    feat = px.join(
        F.broadcast(regions),
        (px.x >= F.col("x0")) & (px.x < F.col("x0") + F.col("w"))
        & (px.y >= F.col("y0")) & (px.y < F.col("y0") + F.col("h")),
    ).select("x", "y", (F.col("code") * 64.0).alias("v"))
    tiled = halo_duplicate(feat, tile_size=48, halo=8)
    # scale=35, min_size=15; checkpointed: the key and the metrics both
    # read it, and FH04 should run once
    segs = segment_tiles(tiled, ["v"]).localCheckpoint(eager=True)
    canon = segs.groupBy("seg_id").agg(
        F.min(F.col("y").cast("long") * 96 + F.col("x")).alias("segment_key")
    )
    metrics = segment_shape_metrics(segs)
    out = metrics.join(canon, "seg_id").select(
        "segment_key",
        "geometry",
        "area",
        "perimeter",
        F.round("rectangularity", 6).alias("rectangularity"),
        F.round("elongation", 6).alias("elongation"),
        F.round("compactness", 6).alias("compactness"),
        F.round("shape_index", 6).alias("shape_index"),
        "num_vertices",
        F.round("vertex_density", 6).alias("vertex_density"),
    )
    return out.orderBy("segment_key")


# ---------------------------------------------------------------------------
# E4 — object classification (`3_object_classification/
# object_classifier.py`): dual-model RF over segment shape features
# with main/backup fallback (M2/M3/J2).
#
# r15: oracle-paired (was rows-only). Reads the r15 exact-lattice E3
# metrics: 6 distinct shape types × 4 instances, each type present at
# both segment_key parities, so the seg%2 training split contains every
# distinct feature vector with its (consistent) label. With
# featureSubsetStrategy="all" AND bootstrap=False every tree sees the
# full separable training set and greedily splits it to purity, so
# both models predict the generating rule exactly and unanimously —
# for the main model (area+perimeter+shape) and the backup (shape-only:
# the types' elongations 3.25, 4/3, 16/15, 33/16, 1.25, 1.15 are all
# distinct, and area is a function of shape type, so the shape-only
# model determines the label too). seg%3==0 probes lose `area` and
# route through the backup (J2 coalesce fallback) — same answer by
# construction, which is exactly what the twin encodes.
# Labels: D (33×16, area 528 > 500) → 1; A (39×12, elong 3.25 > 1.5)
# → 2; B/C/E/F → 3 (E is area 500, NOT > 500).
@_q(
    "pipeline_object_classification",
    f"""
    WITH regions AS ({_E3_REGION_SQL})
    SELECT CAST(y0 * 96 + x0 AS BIGINT) AS segment_key,
           CAST(CASE WHEN w * h > 500 THEN 1
                     WHEN CAST(greatest(w, h) AS DOUBLE) / least(w, h) > 1.5
                       THEN 2
                     ELSE 3 END AS INTEGER) AS PredClass
    FROM regions ORDER BY segment_key
    """,
)
def e4_object_classification(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E4 stage product, memoized on disk; reads E3's materialized
    metrics (no re-segmentation, no in-memory cache to leak)."""
    return stage(
        spark,
        f"{stage_root(sf_dir)}/e4_objects",
        lambda: _build_e4(spark, sf_dir),
    )


def _build_e4(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..ml.classify import dual_model_predict, train_rf

    metrics = e3_segmentation(spark, sf_dir)
    shape_cols = [
        "rectangularity",
        "elongation",
        "compactness",
        "shape_index",
        "vertex_density",
    ]
    labeled = metrics.withColumn(
        "label",
        F.when(F.col("area") > 500, 1.0).when(F.col("elongation") > 1.5, 2.0).otherwise(3.0),
    )
    train = labeled.where(F.col("segment_key") % 2 == 0)
    main = train_rf(
        train,
        ["area", "perimeter", *shape_cols],
        "label",
        num_trees=20,
        max_depth=8,
        feature_subset_strategy="all",
        bootstrap=False,
    )
    backup = train_rf(
        train,
        shape_cols,
        "label",
        num_trees=20,
        max_depth=8,
        feature_subset_strategy="all",
        bootstrap=False,
    )
    # simulate partial main-feature coverage: every third segment loses
    # area and must route through the shape-only backup model (J2)
    probe = labeled.drop("label").withColumn(
        "area",
        F.when(F.col("segment_key") % 3 == 0, F.lit(None).cast("long")).otherwise(
            F.col("area")
        ),
    ).withColumn("area", F.col("area").cast("double"))
    out = dual_model_predict(probe, main, backup, ["area"])
    return out.select("segment_key", "PredClass").orderBy("segment_key")


# ---------------------------------------------------------------------------
# Raster kernels as rows-only queries (invariants in tests/test_raster.py)
@_q("raster_gaussian_smooth")
def q_raster_gaussian(spark: SparkSession, sf_dir: str) -> DataFrame:
    img = synthetic_raster(spark, 64, 64, bands=2)
    tiled = halo_duplicate(img, tile_size=32, halo=4)
    out = gaussian_smooth_tiles(tiled, ["b1", "b2"], sigma=0.5)
    return out.select("x", "y", F.round("b1", 6).alias("b1"), F.round("b2", 6).alias("b2"))


@_q("raster_reproject")
def q_raster_reproject(spark: SparkSession, sf_dir: str) -> DataFrame:
    img = synthetic_raster(spark, 64, 64, bands=1)
    tiled = halo_duplicate(img, tile_size=32, halo=4)
    out = reproject_tiles(tiled, ["b1"], scale=2.0, method="bilinear")
    return out.select("x", "y", F.round("b1", 6).alias("b1"))


@_q("raster_affine_warp")
def q_raster_affine_warp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R1 general form: rotation+scale+shear warp (the reference's
    cross-CRS rasterio reproject, `0_preprocessing/
    feature_stacking.py:72-102`). Invariants (identity, 90° rotation,
    ramp-exact bilinear, tile-grid independence) in tests/test_raster.py."""
    from ..raster.kernels import warp_affine_tiles

    img = synthetic_raster(spark, 64, 64, bands=1)
    tiled = halo_duplicate(img, tile_size=32, halo=4)
    out = warp_affine_tiles(
        tiled, ["b1"], affine=(0.9, 0.15, 2.0, -0.15, 0.9, 1.0), method="bilinear"
    )
    return out.select("x", "y", F.round("b1", 6).alias("b1"))


def _crs_warp_grids() -> tuple[tuple, tuple]:
    """(src_gt, dst_gt) for the EPSG:4326→3857 warp fixture.

    Source: 0.64°×0.64° geographic box at (10E, 45N), 0.01°/px.
    Target: Web Mercator grid over the box at matched resolution,
    origin nudged INTO the box by (0.33, 0.39) target pixels. r15's
    fixture aligned the target origin with the projected source corner,
    so pixel (0, 0) mapped to source coordinate ~0 ± 1 ulp and its
    inclusion (sx >= 0) flipped between engines — the documented FP
    domain edge that kept this query rows-only. The nudge moves EVERY
    target sample ≥ 0.33 px away from the integer lattice and the
    domain boundary, and the rounded outputs ≥ 5e-10 away from the
    nearest round-6 tie (measured over the full fixture), so ulp-level
    transcendental divergence between NumPy, the JVM and DuckDB cannot
    flip any floor/keep/round decision."""
    from ..raster.projections import web_mercator_forward

    src_gt = (10.0, 0.01, 45.0, 0.01)
    x_lo, y_lo = web_mercator_forward(10.0, 45.0)
    x_hi, y_hi = web_mercator_forward(10.64, 45.64)
    dsx = (float(x_hi) - float(x_lo)) / 64.0
    dsy = (float(y_hi) - float(y_lo)) / 64.0
    dst_gt = (float(x_lo) + 0.33 * dsx, dsx, float(y_lo) + 0.39 * dsy, dsy)
    return src_gt, dst_gt


@_q("raster_crs_warp")
def q_raster_crs_warp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R1 non-affine form: true CRS reprojection through
    warp_grid_tiles — a geographic (lon/lat) source grid resampled
    onto a Web Mercator target grid using the public Snyder formulas
    (`raster/projections.py`), the same EPSG:4326→3857 warp the
    reference performs through rasterio
    (`0_preprocessing/feature_stacking.py:86-96`). Oracle-paired since
    r16 (the nudged fixture, `_crs_warp_grids`); invariants (affine
    special case bit-equals warp_affine_tiles, projection round-trip
    error bounds, exactly-once pixel ownership) in
    tests/test_raster.py."""
    from ..raster.kernels import warp_grid_tiles
    from ..raster.projections import pixel_grid_maps

    img = synthetic_raster(spark, 64, 64, bands=1)
    tiled = halo_duplicate(img, tile_size=32, halo=4)
    src_gt, dst_gt = _crs_warp_grids()
    t2s, s2t = pixel_grid_maps("geographic", "web_mercator", src_gt, dst_gt)
    out = warp_grid_tiles(tiled, ["b1"], t2s, s2t, method="bilinear")
    return out.select("x", "y", F.round("b1", 6).alias("b1"))


# --- closed-form segmentation field (round-7 hash upgrade) ---------
# A 64x64 2-band field that is piecewise-CONSTANT on a 4x4 grid of
# unequal rectangles whose cut lines include the tile boundary x=32 /
# y=32, with >=100 feature contrast between any two adjacent blocks.
# FH04 (scale=35, min_size=15) provably segments this into EXACTLY the
# 16 blocks: all zero-weight within-block edges merge first (0 <= any
# threshold), every cross-block edge has weight >= 100 > 35 >= the
# singleton threshold (and ~0.25 at merged sizes), and every
# halo-window fragment is >= 8x8 = 64 px so min_size absorption never
# fires. Block geometry/area/perimeter/vertex metrics are therefore
# closed-form SQL — the DuckDB oracle enumerates the 16 rectangles —
# and the output re-keys on (min_x, min_y) because the engine's
# deterministic P18 seg ids are tile-scoped (the declared benign
# divergence from the reference's sequential ids).
_BLK_XCUTS = (0, 10, 32, 48, 64)  # widths 10, 22, 16, 16
_BLK_YCUTS = (0, 14, 32, 50, 64)  # heights 14, 18, 18, 14


def _block_field(spark: SparkSession) -> DataFrame:
    px = spark.range(64 * 64).select(
        (F.col("id") % 64).cast("int").alias("x"),
        (F.col("id") / 64).cast("int").alias("y"),
    )

    def _bin(col, cuts):
        e = F.lit(len(cuts) - 2)
        for i in range(len(cuts) - 2, 0, -1):
            e = F.when(col < F.lit(cuts[i]), F.lit(i - 1)).otherwise(e)
        return e

    bx = _bin(F.col("x"), _BLK_XCUTS)
    by = _bin(F.col("y"), _BLK_YCUTS)
    blk = (by * 4 + bx).cast("double")
    return px.select(
        "x",
        "y",
        (blk * 100.0 + 10.0).alias("b1"),
        ((blk + 1.0) * 77.0).alias("b2"),
    )


def _block_oracle(select: str) -> str:
    return f"""
    WITH blocks AS (
      SELECT CASE bx.i WHEN 0 THEN 0 WHEN 1 THEN 10 WHEN 2 THEN 32 ELSE 48 END AS x0,
             CASE bx.i WHEN 0 THEN 10 WHEN 1 THEN 22 ELSE 16 END AS w,
             CASE by.i WHEN 0 THEN 0 WHEN 1 THEN 14 WHEN 2 THEN 32 ELSE 50 END AS y0,
             CASE by.i WHEN 0 THEN 14 WHEN 1 THEN 18 WHEN 2 THEN 18 ELSE 14 END AS h
      FROM range(0, 4) bx(i), range(0, 4) by(i)
    )
    {select}
    FROM blocks ORDER BY min_x, min_y
    """


@_q(
    "raster_segmentation_metrics",
    _block_oracle(
        """
    SELECT CAST(x0 AS BIGINT) AS min_x, CAST(y0 AS BIGINT) AS min_y,
           'POLYGON((' || x0 || ' ' || y0 || ', ' || (x0 + w) || ' ' || y0
             || ', ' || (x0 + w) || ' ' || (y0 + h) || ', ' || x0 || ' '
             || (y0 + h) || ', ' || x0 || ' ' || y0 || '))' AS geometry,
           CAST(w * h AS BIGINT) AS area,
           CAST(2 * (w + h) AS BIGINT) AS perimeter,
           CAST(4 AS INT) AS num_vertices,
           CAST(1.0 AS DOUBLE) AS rectangularity,
           round(4 * pi() * (w * h)
                 / CAST((2 * (w + h)) * (2 * (w + h)) AS DOUBLE), 6)
             AS compactness
    """
    ),
)
def q_raster_segmentation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R4+R6+R7 hash-checked end-to-end: FH04 over halo tiles on the
    closed-form block field, exact boundary tracing, shape metrics —
    every number matches the enumerated-rectangle oracle bit-for-bit.
    (Irregular-shape ground truths live in tests/test_raster.py /
    tests/test_geometry.py.)"""
    img = _block_field(spark)
    tiled = halo_duplicate(img, tile_size=32, halo=8)
    # checkpointed: the key and the metrics both read it, and FH04
    # should run once
    segs = segment_tiles(tiled, ["b1", "b2"]).localCheckpoint(eager=True)
    keyed = segs.groupBy("seg_id").agg(
        F.min("x").alias("min_x"), F.min("y").alias("min_y")
    )
    return (
        segment_shape_metrics(segs)
        .join(keyed, "seg_id")
        .select(
            F.col("min_x").cast("bigint").alias("min_x"),
            F.col("min_y").cast("bigint").alias("min_y"),
            "geometry",
            "area",
            "perimeter",
            "num_vertices",
            F.round("rectangularity", 6).alias("rectangularity"),
            F.round("compactness", 6).alias("compactness"),
        )
    )


# ---------------------------------------------------------------------------
# Structured Streaming (rows-only except tumbling, which shares the
# batch oracle — complete-mode availableNow over a bounded source is
# semantically identical to the batch aggregation).
@_q("stream_tumbling_window")
def q_stream_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming.events import stream_tumbling_counts

    return stream_tumbling_counts(spark, sf_dir)


# the streaming tumbling aggregation must equal the batch one — reuse
# the batch oracle so the driver hash-checks streaming correctness too
from . import event_queries as _eq  # noqa: E402

ORACLES["stream_tumbling_window"] = _eq.ORACLES["tumbling_window"]


@_q("stream_session_windows")
def q_stream_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming.events import stream_session_windows

    return stream_session_windows(spark, sf_dir)


# streaming session_window(gap=30m) over a bounded source equals batch
# gaps-and-islands sessionization; Spark opens a NEW session when the
# gap is >= 30 minutes (merge only while next_ts < prev_ts + gap), so
# the twin flags on >=, unlike the batch `sessionization` query's >.
ORACLES["stream_session_windows"] = """
    WITH flagged AS (
      SELECT user_id, ts,
             CASE WHEN lag(ts) OVER w IS NULL
                       OR ts - lag(ts) OVER w >= INTERVAL '30 minutes'
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
    SELECT user_id, strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
           COUNT(*) AS n_events
    FROM sess GROUP BY user_id, session_id
    """


@_q("stream_dedup")
def q_stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming.events import stream_dedup_within_watermark

    # project away event_id: dropDuplicates keeps the FIRST-arriving
    # row per key, and arrival order is an execution detail — the
    # deterministic, oracle-checkable contract is the KEY SET itself
    return stream_dedup_within_watermark(spark, sf_dir).select(
        "user_id", "event_type"
    )


# stateful streaming dropDuplicates over a bounded source must emit
# exactly the distinct key set — the batch twin is SELECT DISTINCT
ORACLES["stream_dedup"] = "SELECT DISTINCT user_id, event_type FROM events"


@_q("stream_sliding_window")
def q_stream_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming.events import stream_sliding_counts

    return stream_sliding_counts(spark, sf_dir)


ORACLES["stream_sliding_window"] = _eq.ORACLES["sliding_window"]


@_q("stream_stateful_totals")
def q_stream_stateful(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming.events import stream_user_running_totals

    # the update-mode memory sink accumulates one row per key per
    # micro-batch; n_events is strictly increasing per key, so the
    # FINAL state is the max-n row — reduce to it so the result is
    # micro-batch-partitioning-invariant and equals the batch totals
    raw = stream_user_running_totals(spark, sf_dir)
    return raw.groupBy("user_id").agg(
        F.max("n_events").alias("n_events"),
        F.max_by("total_value", "n_events").alias("total_value"),
    )


# running totals drained over a bounded source == batch per-user
# aggregate (value is a 2-decimal double; ~100 summands keep the
# incremental float sum well inside the round(2) determinism seam)
ORACLES["stream_stateful_totals"] = """
    SELECT user_id, COUNT(*) AS n_events,
           ROUND(SUM(value), 2) AS total_value
    FROM events GROUP BY user_id
    """


@_q(
    "raster_polygon_features",
    _block_oracle(
        """
    SELECT CAST(x0 AS BIGINT) AS min_x, CAST(y0 AS BIGINT) AS min_y,
           CAST(w * h AS BIGINT) AS area,
           round(CAST(w * h AS DOUBLE), 6) AS geo_area,
           CAST(1.0 AS DOUBLE) AS geo_rectangularity,
           round(greatest(w, h) / CAST(least(w, h) AS DOUBLE), 6)
             AS geo_elongation,
           round(4 * pi() * (w * h)
                 / CAST((2 * (w + h)) * (2 * (w + h)) AS DOUBLE), 6)
             AS geo_compactness
    """
    ),
)
def q_raster_polygon_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R7 in its geometry form, hash-checked: traced segment polygons →
    min-rotated-rect shape features (the reference's shapely-feature
    analog) over the closed-form block field — shoelace area, caliper
    rectangularity/elongation, and ring compactness all match the
    enumerated-rectangle oracle. Irregular-polygon ground truths stay
    in tests/test_geometry.py."""
    from ..functions.geometry import with_polygon_shape_features

    img = _block_field(spark)
    tiled = halo_duplicate(img, tile_size=32, halo=8)
    # checkpointed: the key and the metrics both read it, and FH04
    # should run once
    segs = segment_tiles(tiled, ["b1", "b2"]).localCheckpoint(eager=True)
    keyed = segs.groupBy("seg_id").agg(
        F.min("x").alias("min_x"), F.min("y").alias("min_y")
    )
    metrics = segment_shape_metrics(segs)
    out = with_polygon_shape_features(metrics.select("seg_id", "geometry", "area"))
    return out.join(keyed, "seg_id").select(
        F.col("min_x").cast("bigint").alias("min_x"),
        F.col("min_y").cast("bigint").alias("min_y"),
        "area",
        F.round("geo_area", 6).alias("geo_area"),
        F.round("geo_rectangularity", 6).alias("geo_rectangularity"),
        F.round("geo_elongation", 6).alias("geo_elongation"),
        F.round("geo_compactness", 6).alias("geo_compactness"),
    )


@_q("stream_stream_join")
def q_stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming.events import stream_stream_click_purchase

    return stream_stream_click_purchase(spark, sf_dir)


# the stream-stream interval join must emit exactly the batch join's
# rows — share the batch oracle so the driver hash-checks it too
ORACLES["stream_stream_join"] = _eq.ORACLES["interval_join_click_purchase"]


def _stream_join_horizon(spark: SparkSession, sf_dir: str) -> str:
    """The deterministic closed-region cutoff for the unsealed
    stream-stream outer joins: final global watermark (min of both
    sides' max event time, minus the 1 h delay) minus the 30 min join
    window. Every click/purchase older than this has provably had its
    outer-join state evicted, so streaming == batch there — the same
    boundary tests/test_ml_streaming.py pins row-for-row."""
    import datetime

    from ..sources.catalog import load_table

    ev = load_table(spark, sf_dir, "events")
    m = ev.agg(
        F.max(F.when(F.col("event_type") == "click", F.col("ts"))).alias("mc"),
        F.max(F.when(F.col("event_type") == "purchase", F.col("ts"))).alias("mp"),
    ).collect()[0]
    horizon = min(m["mc"], m["mp"]) - datetime.timedelta(hours=1, minutes=30)
    return horizon.strftime("%Y-%m-%d %H:%M:%S")


# Upgraded from rows-only (r11): the FULL streamed result is still not
# batch-expressible (near-tail rows legitimately sit in state), but
# the closed-watermark REGION is — so the registered query restricts
# to it and emits per-hour key-agreement aggregates, and the oracle
# computes the identical restriction of the batch outer join. Same
# discipline as stream_ttl_dedup / stream_late_drop_audit.
_SQL_STREAM_OUTER = """
    WITH c AS (SELECT event_id AS click_id, user_id AS cu, ts AS cts
               FROM events WHERE event_type = 'click'),
    p AS (SELECT event_id AS purchase_id, user_id AS pu, ts AS pts
          FROM events WHERE event_type = 'purchase'),
    wm AS (SELECT LEAST((SELECT MAX(cts) FROM c), (SELECT MAX(pts) FROM p))
                  - INTERVAL 1 HOUR - INTERVAL 30 MINUTE AS horizon),
    j AS (
      SELECT c.click_id, p.purchase_id, c.cts
      FROM c LEFT JOIN p ON p.pu = c.cu AND p.pts >= c.cts
                         AND p.pts <= c.cts + INTERVAL 30 MINUTE
    ),
    closed AS (
      SELECT j.* FROM j, wm
      WHERE strftime(cts, '%Y-%m-%d %H:%M:%S')
            < strftime(horizon, '%Y-%m-%d %H:%M:%S')
    )
    SELECT substring(strftime(cts, '%Y-%m-%d %H:%M:%S'), 1, 13) AS click_hour,
           COUNT(*) AS n_rows,
           CAST(SUM(CASE WHEN purchase_id IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_unmatched,
           CAST(SUM(click_id) AS BIGINT) AS click_id_sum,
           CAST(SUM(COALESCE(purchase_id, 0)) AS BIGINT) AS purchase_id_sum
    FROM closed GROUP BY 1 ORDER BY 1
"""


@_q("stream_stream_outer_join", _SQL_STREAM_OUTER)
def q_stream_stream_outer_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming.events import stream_stream_click_purchase_outer

    out = stream_stream_click_purchase_outer(spark, sf_dir)
    cutoff = _stream_join_horizon(spark, sf_dir)
    return (
        out.where(F.col("click_ts") < F.lit(cutoff))
        .groupBy(F.substring("click_ts", 1, 13).alias("click_hour"))
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(F.when(F.col("purchase_id").isNull(), 1).otherwise(0))
            .cast("bigint")
            .alias("n_unmatched"),
            F.sum("click_id").cast("bigint").alias("click_id_sum"),
            F.sum(F.coalesce(F.col("purchase_id"), F.lit(0)))
            .cast("bigint")
            .alias("purchase_id_sum"),
        )
        .orderBy("click_hour")
    )


@_q("stream_static_enrich")
def q_stream_static_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming.events import stream_static_enrich

    return stream_static_enrich(spark, sf_dir)


# batch twin: a complete-mode availableNow stream-static join over a
# bounded source equals the batch join — hash-checkable by the driver
ORACLES["stream_static_enrich"] = """
    SELECT c_mktsegment, COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
    FROM events e JOIN customer c ON c.c_custkey = e.user_id
    GROUP BY c_mktsegment
"""


@_q("raster_terrain")
def q_raster_terrain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DEM slope/aspect/hillshade (Horn 3×3) over the synthetic
    raster's smooth band — rows-only (focal trig is not 1-statement
    SQL); invariants in tests/test_terrain.py."""
    from ..raster.kernels import terrain_tiles

    img = synthetic_raster(spark, 64, 64, bands=1)
    tiled = halo_duplicate(img, tile_size=32, halo=2)
    out = terrain_tiles(tiled, "b1")
    return out.select(
        "x",
        "y",
        F.round("slope_deg", 5).alias("slope_deg"),
        F.round("aspect_deg", 5).alias("aspect_deg"),
        F.round("hillshade", 5).alias("hillshade"),
    )


@_q("stream_transform_with_state")
def q_stream_tws(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming.events import stream_transform_with_state_totals

    return stream_transform_with_state_totals(spark, sf_dir)


# a bounded availableNow run in update mode emits one final row per
# user — equal to the batch per-user aggregate, so it hash-checks
ORACLES["stream_transform_with_state"] = """
    SELECT user_id, COUNT(*) AS n_events,
           round(SUM(value), 2) AS total_value
    FROM events GROUP BY user_id
"""


# Full-outer sibling of _SQL_STREAM_OUTER: rows are bucketed by their
# coalesced side (click if present, else purchase) and the closed
# region takes that coalesced timestamp — a purchase evicts once the
# watermark passes its own ts, so horizon (wm - 30 min) is strictly
# inside both sides' eviction boundaries.
_SQL_STREAM_FULL_OUTER = """
    WITH c AS (SELECT event_id AS click_id, user_id AS cu, ts AS cts
               FROM events WHERE event_type = 'click'),
    p AS (SELECT event_id AS purchase_id, user_id AS pu, ts AS pts
          FROM events WHERE event_type = 'purchase'),
    wm AS (SELECT LEAST((SELECT MAX(cts) FROM c), (SELECT MAX(pts) FROM p))
                  - INTERVAL 1 HOUR - INTERVAL 30 MINUTE AS horizon),
    j AS (
      SELECT c.click_id, p.purchase_id, COALESCE(c.cts, p.pts) AS ets
      FROM c FULL JOIN p ON p.pu = c.cu AND p.pts >= c.cts
                         AND p.pts <= c.cts + INTERVAL 30 MINUTE
    ),
    closed AS (
      SELECT j.* FROM j, wm
      WHERE strftime(ets, '%Y-%m-%d %H:%M:%S')
            < strftime(horizon, '%Y-%m-%d %H:%M:%S')
    )
    SELECT substring(strftime(ets, '%Y-%m-%d %H:%M:%S'), 1, 13) AS event_hour,
           COUNT(*) AS n_rows,
           CAST(SUM(CASE WHEN purchase_id IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_click_only,
           CAST(SUM(CASE WHEN click_id IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_purchase_only,
           CAST(SUM(COALESCE(click_id, 0)) AS BIGINT) AS click_id_sum,
           CAST(SUM(COALESCE(purchase_id, 0)) AS BIGINT) AS purchase_id_sum
    FROM closed GROUP BY 1 ORDER BY 1
"""


@_q("stream_stream_full_outer_join", _SQL_STREAM_FULL_OUTER)
def q_stream_stream_full_outer_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming.events import stream_stream_click_purchase_full_outer

    out = stream_stream_click_purchase_full_outer(spark, sf_dir)
    cutoff = _stream_join_horizon(spark, sf_dir)
    ets = F.coalesce(F.col("click_ts"), F.col("purchase_ts"))
    return (
        out.where(ets < F.lit(cutoff))
        .groupBy(F.substring(ets, 1, 13).alias("event_hour"))
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(F.when(F.col("purchase_id").isNull(), 1).otherwise(0))
            .cast("bigint")
            .alias("n_click_only"),
            F.sum(F.when(F.col("click_id").isNull(), 1).otherwise(0))
            .cast("bigint")
            .alias("n_purchase_only"),
            F.sum(F.coalesce(F.col("click_id"), F.lit(0)))
            .cast("bigint")
            .alias("click_id_sum"),
            F.sum(F.coalesce(F.col("purchase_id"), F.lit(0)))
            .cast("bigint")
            .alias("purchase_id_sum"),
        )
        .orderBy("event_hour")
    )


# The eventgen source's rows are a PURE INTEGER FUNCTION of
# (tick, shard, seq) — sources/eventgen.py event_row — so the batch
# twin regenerates the exact drained row set with generate_series and
# applies the same congruences. value = n/10.0 is an IEEE-exact
# shared double on both engines; the sum runs in DECIMAL(12,1)
# (order-free) on both sides.
_SQL_STREAM_CUSTOM_SOURCE = """
    WITH coords AS (
      SELECT t.tick, s.shard, q.seq
      FROM generate_series(0, 7) AS t(tick)
      CROSS JOIN generate_series(0, 3) AS s(shard)
      CROSS JOIN generate_series(0, 24) AS q(seq)
    ),
    ev AS (
      SELECT (tick * 131 + shard * 17 + seq * 7) % 50 AS user_id,
             CAST(((tick * 31 + shard * 13 + seq) % 997) / 10.0 AS DOUBLE)
               AS value
      FROM coords
    )
    SELECT user_id,
           COUNT(*) AS n_events,
           ROUND(CAST(SUM(CAST(value AS DECIMAL(12,1))) AS DOUBLE), 1)
             AS total_value
    FROM ev GROUP BY user_id
"""


@_q("stream_custom_source_totals", _SQL_STREAM_CUSTOM_SOURCE)
def q_stream_custom_source_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The custom STREAMING Python DataSource (eventgen —
    offset-bounded replay-deterministic ticks, one InputPartition per
    (tick, shard), Arrow batches) drained via availableNow into a
    per-user aggregation. Oracle-paired since r16: the source's rows
    are a pure integer function of the offset coordinates, so the
    DuckDB twin regenerates the identical row set analytically —
    replay determinism is additionally pinned in
    tests/test_datasource.py."""
    from ..sources.eventgen import register
    from ..streaming.events import run_stream_to_table

    register(spark)
    drained = run_stream_to_table(
        spark.readStream.format("eventgen").load(), "append"
    )
    return (
        drained
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum(F.col("value").cast("decimal(12,1)")).cast("double"), 1).alias(
                "total_value"
            ),
        )
    )


@_q("stream_session_windows_dynamic")
def q_stream_sessions_dynamic(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming.events import stream_session_windows_dynamic_gap

    return stream_session_windows_dynamic_gap(spark, sf_dir)


# dynamic-gap session windows over a bounded source equal per-user-gap
# gaps-and-islands: the gap threshold is a per-user CASE in the twin
ORACLES["stream_session_windows_dynamic"] = """
    WITH g AS (
      SELECT user_id, ts, event_id,
             CASE WHEN user_id % 2 = 0 THEN INTERVAL '15 minutes'
                  ELSE INTERVAL '45 minutes' END AS gap
      FROM events
    ),
    flagged AS (
      SELECT user_id, ts, event_id, gap,
             CASE WHEN lag(ts) OVER w IS NULL
                       OR ts - lag(ts) OVER w >= gap
                  THEN 1 ELSE 0 END AS new_session
      FROM g
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    sess AS (
      SELECT user_id, ts,
             SUM(new_session) OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id
                                    ROWS UNBOUNDED PRECEDING) AS session_id
      FROM flagged
    )
    SELECT user_id, strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
           COUNT(*) AS n_events
    FROM sess GROUP BY user_id, session_id
    """


@_q("stream_stream_outer_join_sealed")
def q_stream_stream_outer_join_sealed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-outer stream-stream join over the watermark-SEALED stream
    (a far-future sentinel pair closes every real join window before
    the stream drains — the "epoch close" control-record idiom), which
    makes the streaming result equal the batch outer join exactly and
    therefore hash-checkable. The unsealed twin above stays rows-only
    to document the open-tail semantics."""
    from ..streaming.events import stream_stream_outer_sealed

    return stream_stream_outer_sealed(spark, sf_dir, "leftOuter")


ORACLES["stream_stream_outer_join_sealed"] = """
    WITH c AS (SELECT event_id AS click_id, user_id, ts FROM events
               WHERE event_type = 'click'),
         p AS (SELECT event_id AS purchase_id, user_id, ts FROM events
               WHERE event_type = 'purchase')
    SELECT c.click_id, p.purchase_id,
           strftime(c.ts, '%Y-%m-%d %H:%M:%S') AS click_ts,
           strftime(p.ts, '%Y-%m-%d %H:%M:%S') AS purchase_ts
    FROM c LEFT JOIN p
      ON p.user_id = c.user_id
     AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 30 MINUTE
"""


@_q("stream_stream_full_outer_join_sealed")
def q_stream_stream_full_outer_join_sealed(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """FULL-outer sealed twin: both sides' unmatched rows finalize
    once the sentinel watermark passes, so the result equals the batch
    full outer join (see stream_stream_outer_join_sealed)."""
    from ..streaming.events import stream_stream_outer_sealed

    return stream_stream_outer_sealed(spark, sf_dir, "fullOuter")


ORACLES["stream_stream_full_outer_join_sealed"] = """
    WITH c AS (SELECT event_id AS click_id, user_id, ts FROM events
               WHERE event_type = 'click'),
         p AS (SELECT event_id AS purchase_id, user_id, ts FROM events
               WHERE event_type = 'purchase')
    SELECT c.click_id, p.purchase_id,
           strftime(c.ts, '%Y-%m-%d %H:%M:%S') AS click_ts,
           strftime(p.ts, '%Y-%m-%d %H:%M:%S') AS purchase_ts
    FROM c FULL OUTER JOIN p
      ON p.user_id = c.user_id
     AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 30 MINUTE
"""


@_q("stream_windowed_topk")
def q_stream_windowed_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming.events import stream_windowed_topk

    return stream_windowed_topk(spark, sf_dir)


# stream-maintained counts + serving-layer rank == batch counts + rank
ORACLES["stream_windowed_topk"] = """
    WITH counts AS (
      SELECT time_bucket(INTERVAL '10 minutes', ts) AS w, event_type,
             COUNT(*) AS n
      FROM events GROUP BY 1, 2
    ), ranked AS (
      SELECT w, event_type, n,
             row_number() OVER (PARTITION BY w
                                ORDER BY n DESC, event_type) AS rn,
             SUM(n) OVER (PARTITION BY w) AS window_total
      FROM counts
    )
    SELECT strftime(w, '%Y-%m-%d %H:%M:%S') AS wstart,
           event_type AS top_type, CAST(n AS BIGINT) AS top_n,
           CAST(window_total AS BIGINT) AS window_total
    FROM ranked WHERE rn = 1
    """


@_q("stream_cusum_alerts")
def q_stream_cusum_alerts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming.events import stream_cusum_alerts

    return stream_cusum_alerts(spark, sf_dir)


# the stateful streaming CUSUM must reproduce the batch closed form
from . import timeseries_queries as _tq  # noqa: E402

ORACLES["stream_cusum_alerts"] = _tq.ORACLES["cusum_changepoint"]


def _sql_terrain() -> str:
    """Horn 3x3 oracle for raster_terrain: the synthetic DEM is a
    CLOSED-FORM field (tiles.synthetic_raster, bands=1, seed=42), so
    every neighbor elevation is recomputed from the formula with
    edge-clamped coordinates — no pixel table, no self-joins; the
    stencil, aspect piecewise and hillshade trig replicate the numpy
    kernel expression-for-expression (round(5) both engines)."""

    def z(xx: str, yy: str) -> str:
        cx = f"least(greatest({xx}, 0), 63)"
        cy = f"least(greatest({yy}, 0), 63)"
        base = (
            f"(sin(CAST({cx} AS DOUBLE) / 10.0) * 40.0"
            f" + cos(CAST({cy} AS DOUBLE) / 12.0) * 40.0 + 100.0)"
        )
        d2 = (
            f"((CAST({cx} AS DOUBLE) - 35.0) * (CAST({cx} AS DOUBLE) - 35.0)"
            f" + (CAST({cy} AS DOUBLE) - 30.0) * (CAST({cy} AS DOUBLE) - 30.0))"
        )
        return f"(CASE WHEN {d2} < 400.0 THEN {base} + 80.0 ELSE {base} END)"

    a, b, c = z("x-1", "y-1"), z("x", "y-1"), z("x+1", "y-1")
    d, f_ = z("x-1", "y"), z("x+1", "y")
    g, h, i = z("x-1", "y+1"), z("x", "y+1"), z("x+1", "y+1")
    dzdx = f"((({c} + 2 * {f_} + {i}) - ({a} + 2 * {d} + {g})) / 8.0)"
    dzdy = f"((({g} + 2 * {h} + {i}) - ({a} + 2 * {b} + {c})) / 8.0)"
    return f"""
    WITH grid AS (
      SELECT CAST(gx.x AS INTEGER) AS x, CAST(gy.y AS INTEGER) AS y
      FROM (SELECT unnest(generate_series(0, 63)) AS x) gx,
           (SELECT unnest(generate_series(0, 63)) AS y) gy
    ), der AS (
      SELECT x, y, {dzdx} AS dzdx, {dzdy} AS dzdy FROM grid
    ), s AS (
      SELECT x, y, dzdx, dzdy,
             dzdx * dzdx + dzdy * dzdy AS rise2,
             atan(sqrt(dzdx * dzdx + dzdy * dzdy)) AS slope_rad
      FROM der
    ), asp AS (
      SELECT *, degrees(atan2(dzdy, -dzdx)) AS asp0 FROM s
    ), aspect AS (
      SELECT x, y, rise2, slope_rad,
             CASE WHEN rise2 = 0 THEN -1.0
                  WHEN asp0 < 0 THEN 90.0 - asp0
                  WHEN asp0 > 90.0 THEN 360.0 - asp0 + 90.0
                  ELSE 90.0 - asp0 END AS aspect_deg
      FROM asp
    )
    SELECT x, y,
           round(degrees(slope_rad), 5) AS slope_deg,
           round(aspect_deg, 5) AS aspect_deg,
           round(least(greatest(255.0 * (
               cos(radians(45.0)) * cos(slope_rad)
               + sin(radians(45.0)) * sin(slope_rad)
                 * cos(radians(135.0)
                       - (CASE WHEN rise2 = 0 THEN 0.0
                               ELSE radians(360.0 - aspect_deg + 90.0) END))
           ), 0.0), 255.0), 5) AS hillshade
    FROM aspect
    """


# the synthetic DEM is closed-form, so the focal stencil IS
# 1-statement SQL after all — upgrade raster_terrain to hash-checked
ORACLES["raster_terrain"] = _sql_terrain()


def _sql_gaussian() -> str:
    """Closed-form oracle for raster_gaussian_smooth: the 5-tap
    separable kernel (sigma=0.5) applied to the closed-form 2-band
    synthetic field. The nested sums replicate the numpy convolution
    accumulation order exactly (inner = axis-0/y taps ascending,
    outer = axis-1/x taps ascending, left-associated adds), the tap
    weights are embedded as exact double literals, and the constant
    valid-weight denominator is precomputed in the identical order."""
    import math as _m

    radius = 2
    xs = [float(t) for t in range(-radius, radius + 1)]
    raw = [_m.exp(-(t * t) / (2.0 * 0.5 * 0.5)) for t in xs]
    ksum = 0.0
    for r in raw:
        ksum += r
    k = [r / ksum for r in raw]
    # den = conv(ones): inner sum then outer, numpy loop order
    s1 = 0.0
    for w in k:
        s1 += w * 1.0
    den = 0.0
    for w in k:
        den += w * s1

    def z(band: int, xx: str, yy: str) -> str:
        cx = f"least(greatest({xx}, 0), 63)"
        cy = f"least(greatest({yy}, 0), 63)"
        per_x = 7.0 + band + 2  # seed % 5 == 2
        per_y = 11.0 + band
        dcx, dcy = 32 + band * 3, 32 - band * 2
        base = (
            f"(sin(CAST({cx} AS DOUBLE) / {per_x!r}) * 40.0"
            f" + cos(CAST({cy} AS DOUBLE) / {per_y!r}) * 40.0 + 100.0)"
        )
        d2 = (
            f"((CAST({cx} AS DOUBLE) - {float(dcx)!r}) * (CAST({cx} AS DOUBLE) - {float(dcx)!r})"
            f" + (CAST({cy} AS DOUBLE) - {float(dcy)!r}) * (CAST({cy} AS DOUBLE) - {float(dcy)!r}))"
        )
        return f"(CASE WHEN {d2} < 400.0 THEN {base} + 80.0 ELSE {base} END)"

    def smooth(band: int) -> str:
        outer = []
        for j, wj in enumerate(k):
            inner = []
            for i, wi in enumerate(k):
                inner.append(
                    f"{wi!r} * {z(band, f'x + {j - radius}', f'y + {i - radius}')}"
                )
            outer.append(f"{wj!r} * ({' + '.join(inner)})")
        return f"(({' + '.join(outer)}) / {den!r})"

    return f"""
    WITH grid AS (
      SELECT CAST(gx.x AS INTEGER) AS x, CAST(gy.y AS INTEGER) AS y
      FROM (SELECT unnest(generate_series(0, 63)) AS x) gx,
           (SELECT unnest(generate_series(0, 63)) AS y) gy
    )
    SELECT x, y,
           round({smooth(1)}, 6) AS b1,
           round({smooth(2)}, 6) AS b2
    FROM grid
    """


# same closed-form upgrade as raster_terrain: the separable gaussian
# over a formula field is 1-statement SQL
ORACLES["raster_gaussian_smooth"] = _sql_gaussian()


def _sql_reproject() -> str:
    """Closed-form oracle for raster_reproject: target→source is
    (sx, sy) = (2·tx, 2·ty) — INTEGER source coords, so the bilinear
    weights are exactly 0/1 and the resample reduces to direct
    evaluation of the synthetic field at (2x, 2y). Target domain =
    sources inside [0,63] → 32×32 outputs."""

    def z(xx: str, yy: str) -> str:
        base = (
            f"(sin(CAST({xx} AS DOUBLE) / 10.0) * 40.0"
            f" + cos(CAST({yy} AS DOUBLE) / 12.0) * 40.0 + 100.0)"
        )
        d2 = (
            f"((CAST({xx} AS DOUBLE) - 35.0) * (CAST({xx} AS DOUBLE) - 35.0)"
            f" + (CAST({yy} AS DOUBLE) - 30.0) * (CAST({yy} AS DOUBLE) - 30.0))"
        )
        return f"(CASE WHEN {d2} < 400.0 THEN {base} + 80.0 ELSE {base} END)"

    return f"""
    WITH grid AS (
      SELECT CAST(gx.x AS INTEGER) AS x, CAST(gy.y AS INTEGER) AS y
      FROM (SELECT unnest(generate_series(0, 31)) AS x) gx,
           (SELECT unnest(generate_series(0, 31)) AS y) gy
    )
    SELECT x, y, round({z('2 * x', '2 * y')}, 6) AS b1
    FROM grid
    """


ORACLES["raster_reproject"] = _sql_reproject()


def _sql_affine_warp() -> str:
    """Closed-form oracle for raster_affine_warp: target→source coords
    are the same IEEE expression (0.9·tx + 0.15·ty + 2, −0.15·tx +
    0.9·ty + 1) in both engines — bit-identical, so the emit predicate
    (source inside [0,63]²) and the floor anchors agree exactly; the
    bilinear blend then evaluates the synthetic field at the four
    integer anchors (field sin/cos ulps pass through the continuous
    blend and vanish under round(6))."""

    def z(xx: str, yy: str) -> str:
        base = (
            f"(sin(CAST({xx} AS DOUBLE) / 10.0) * 40.0"
            f" + cos(CAST({yy} AS DOUBLE) / 12.0) * 40.0 + 100.0)"
        )
        d2 = (
            f"((CAST({xx} AS DOUBLE) - 35.0) * (CAST({xx} AS DOUBLE) - 35.0)"
            f" + (CAST({yy} AS DOUBLE) - 30.0) * (CAST({yy} AS DOUBLE) - 30.0))"
        )
        return f"(CASE WHEN {d2} < 400.0 THEN {base} + 80.0 ELSE {base} END)"

    return f"""
    WITH grid AS (
      SELECT CAST(gx.x AS INTEGER) AS x, CAST(gy.y AS INTEGER) AS y
      FROM (SELECT unnest(generate_series(-40, 110)) AS x) gx,
           (SELECT unnest(generate_series(-40, 110)) AS y) gy
    ), src AS (
      SELECT x, y,
             0.9 * x + 0.15 * y + 2.0 AS sx,
             -0.15 * x + 0.9 * y + 1.0 AS sy
      FROM grid
    ), kept AS (
      SELECT x, y, sx, sy,
             CAST(floor(sx) AS INTEGER) AS ix0,
             CAST(floor(sy) AS INTEGER) AS iy0,
             least(CAST(floor(sx) AS INTEGER) + 1, 63) AS ix1,
             least(CAST(floor(sy) AS INTEGER) + 1, 63) AS iy1,
             sx - floor(sx) AS wx, sy - floor(sy) AS wy
      FROM src
      WHERE sx >= 0 AND sx <= 63 AND sy >= 0 AND sy <= 63
    )
    SELECT x, y,
           round({z('ix0', 'iy0')} * (1 - wx) * (1 - wy)
                 + {z('ix1', 'iy0')} * wx * (1 - wy)
                 + {z('ix0', 'iy1')} * (1 - wx) * wy
                 + {z('ix1', 'iy1')} * wx * wy, 6) AS b1
    FROM kept
    """


ORACLES["raster_affine_warp"] = _sql_affine_warp()


# ---------------------------------------------------------------------------
# R1 exact sub-grid oracle (r11 verdict item 6): the general
# raster_crs_warp stays rows-only because arbitrary projection math
# puts fractional source coordinates off the binary lattice — but a
# warp whose target->source map lands every coordinate ON exact
# binary rationals has float-EXACT bilinear weights, making the
# non-affine warp_grid_tiles path itself oracle-checkable. The map
# here is non-affine (quadratic in y) yet binary-exact for integer
# targets: sx = tx/2 + ty^2/256 (<= 8 fractional bits), sy = ty/2
# (1 fractional bit) — so wx/wy and all four weight products are
# exact doubles in both engines, the anchor floors agree exactly,
# and the field's sin/cos ulps pass through the blend under round(6)
# exactly as in the hash-green affine oracle.
@_q("raster_crs_warp_exact")
def q_raster_crs_warp_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    import numpy as np

    from ..raster.kernels import warp_grid_tiles

    img = synthetic_raster(spark, 64, 64, bands=1)
    tiled = halo_duplicate(img, tile_size=32, halo=4)

    def t2s(tx, ty):
        ty = np.asarray(ty, dtype=np.float64)
        tx = np.asarray(tx, dtype=np.float64)
        return tx * 0.5 + (ty * ty) / 256.0, ty * 0.5

    def s2t(sx, sy):
        sx = np.asarray(sx, dtype=np.float64)
        sy = np.asarray(sy, dtype=np.float64)
        ty = 2.0 * sy
        return 2.0 * (sx - (ty * ty) / 256.0), ty

    # boundary_samples=17: the quadratic's chord deviation over a
    # 17-sample lattice on a 32-px core is ~0.03 px, far inside
    # bound_pad — the forward bounding stays a cover.
    out = warp_grid_tiles(
        tiled, ["b1"], t2s, s2t, method="bilinear", boundary_samples=17
    )
    return out.select("x", "y", F.round("b1", 6).alias("b1"))


def _sql_crs_warp_exact() -> str:
    """Closed-form oracle for raster_crs_warp_exact — identical
    structure to _sql_affine_warp with the quadratic binary-exact
    coordinate map."""

    def z(xx: str, yy: str) -> str:
        base = (
            f"(sin(CAST({xx} AS DOUBLE) / 10.0) * 40.0"
            f" + cos(CAST({yy} AS DOUBLE) / 12.0) * 40.0 + 100.0)"
        )
        d2 = (
            f"((CAST({xx} AS DOUBLE) - 35.0) * (CAST({xx} AS DOUBLE) - 35.0)"
            f" + (CAST({yy} AS DOUBLE) - 30.0) * (CAST({yy} AS DOUBLE) - 30.0))"
        )
        return f"(CASE WHEN {d2} < 400.0 THEN {base} + 80.0 ELSE {base} END)"

    return f"""
    WITH grid AS (
      SELECT CAST(gx.x AS INTEGER) AS x, CAST(gy.y AS INTEGER) AS y
      FROM (SELECT unnest(generate_series(-130, 130)) AS x) gx,
           (SELECT unnest(generate_series(-2, 128)) AS y) gy
    ), src AS (
      SELECT x, y,
             0.5 * x + (y * y) / 256.0 AS sx,
             0.5 * y AS sy
      FROM grid
    ), kept AS (
      SELECT x, y, sx, sy,
             CAST(floor(sx) AS INTEGER) AS ix0,
             CAST(floor(sy) AS INTEGER) AS iy0,
             least(CAST(floor(sx) AS INTEGER) + 1, 63) AS ix1,
             least(CAST(floor(sy) AS INTEGER) + 1, 63) AS iy1,
             sx - floor(sx) AS wx, sy - floor(sy) AS wy
      FROM src
      WHERE sx >= 0 AND sx <= 63 AND sy >= 0 AND sy <= 63
    )
    SELECT x, y,
           round({z('ix0', 'iy0')} * (1 - wx) * (1 - wy)
                 + {z('ix1', 'iy0')} * wx * (1 - wy)
                 + {z('ix0', 'iy1')} * (1 - wx) * wy
                 + {z('ix1', 'iy1')} * wx * wy, 6) AS b1
    FROM kept
    """


ORACLES["raster_crs_warp_exact"] = _sql_crs_warp_exact()


def _sql_crs_warp() -> str:
    """Oracle for the general Web-Mercator warp (r16 close-out of the
    last rows-only entry). Same kept/bilinear/round structure as
    `_sql_crs_warp_exact`; the coordinate map is the real Snyder
    inverse-Mercator chain evaluated per target pixel in DuckDB
    (degrees/atan/exp are cross-engine safe here because the nudged
    fixture keeps every decision ≥ 0.33 px / ≥ 5e-10 from any
    floor/keep/round boundary — see `_crs_warp_grids`). The
    geotransform constants are baked as exact 17-digit repr literals
    of the same doubles the Spark query computes, so the constant
    derivation chain itself cannot diverge."""
    (sx0, ssx, sy0, ssy), (dx0, dsx, dy0, dsy) = _crs_warp_grids()

    def z(xx: str, yy: str) -> str:
        base = (
            f"(sin(CAST({xx} AS DOUBLE) / 10.0) * 40.0"
            f" + cos(CAST({yy} AS DOUBLE) / 12.0) * 40.0 + 100.0)"
        )
        d2 = (
            f"((CAST({xx} AS DOUBLE) - 35.0) * (CAST({xx} AS DOUBLE) - 35.0)"
            f" + (CAST({yy} AS DOUBLE) - 30.0) * (CAST({yy} AS DOUBLE) - 30.0))"
        )
        return f"(CASE WHEN {d2} < 400.0 THEN {base} + 80.0 ELSE {base} END)"

    return f"""
    WITH grid AS (
      SELECT CAST(gx.x AS INTEGER) AS x, CAST(gy.y AS INTEGER) AS y
      FROM (SELECT unnest(generate_series(-5, 69)) AS x) gx,
           (SELECT unnest(generate_series(-5, 69)) AS y) gy
    ), src AS (
      SELECT x, y,
        (degrees(({dx0!r} + CAST(x AS DOUBLE) * {dsx!r}) / 6378137.0)
         - {sx0!r}) / {ssx!r} AS sx,
        (degrees(2.0 * atan(exp(({dy0!r} + CAST(y AS DOUBLE) * {dsy!r})
                                / 6378137.0)) - pi() / 2.0)
         - {sy0!r}) / {ssy!r} AS sy
      FROM grid
    ), kept AS (
      SELECT x, y, sx, sy,
             CAST(floor(sx) AS INTEGER) AS ix0,
             CAST(floor(sy) AS INTEGER) AS iy0,
             least(CAST(floor(sx) AS INTEGER) + 1, 63) AS ix1,
             least(CAST(floor(sy) AS INTEGER) + 1, 63) AS iy1,
             sx - floor(sx) AS wx, sy - floor(sy) AS wy
      FROM src
      WHERE sx >= 0 AND sx <= 63 AND sy >= 0 AND sy <= 63
    )
    SELECT x, y,
           round({z('ix0', 'iy0')} * (1 - wx) * (1 - wy)
                 + {z('ix1', 'iy0')} * wx * (1 - wy)
                 + {z('ix0', 'iy1')} * (1 - wx) * wy
                 + {z('ix1', 'iy1')} * wx * wy, 6) AS b1
    FROM kept
    """


ORACLES["raster_crs_warp"] = _sql_crs_warp()


# shared closed-form field expression for the 64x64 1-band synthetic
# raster (b=1, seed=42): the same z() the reproject/affine oracles use
def _sql_field_z(xx: str, yy: str) -> str:
    base = (
        f"(sin(CAST({xx} AS DOUBLE) / 10.0) * 40.0"
        f" + cos(CAST({yy} AS DOUBLE) / 12.0) * 40.0 + 100.0)"
    )
    d2 = (
        f"((CAST({xx} AS DOUBLE) - 35.0) * (CAST({xx} AS DOUBLE) - 35.0)"
        f" + (CAST({yy} AS DOUBLE) - 30.0) * (CAST({yy} AS DOUBLE) - 30.0))"
    )
    return f"(CASE WHEN {d2} < 400.0 THEN {base} + 80.0 ELSE {base} END)"


# ---------------------------------------------------------------------------
# Integral-image (summed-area table) box filter — Crow SIGGRAPH'84:
# the O(1)-per-pixel focal MEAN, the scale idiom for box stencils
# (naive 5x5 gather is 25 reads/pixel; the SAT is two prefix-sum
# passes + 4 reads regardless of kernel size). The band quantizes to
# integer DNs first (real imagery is integer DNs; it also puts the
# SAT on the exact BIGINT lattice, so both engines' prefix sums are
# order-free-exact). Distribution shape: pass 1 is a window cumsum
# partitioned BY ROW, pass 2 BY COLUMN — both auditor-clean
# partitioned scans; the 4 corner lookups are equi-joins on the pixel
# key. Border policy: centers [2..61]^2 with missing (-1) corners
# coalesced to 0.
@_q(
    "raster_box_filter_sat",
    f"""
    WITH grid AS (
      SELECT CAST(gx.x AS INTEGER) AS x, CAST(gy.y AS INTEGER) AS y
      FROM (SELECT unnest(generate_series(0, 63)) AS x) gx,
           (SELECT unnest(generate_series(0, 63)) AS y) gy
    ),
    dn AS (
      SELECT x, y, CAST(round({_sql_field_z('x', 'y')}, 0) AS BIGINT) AS v
      FROM grid
    ),
    cs AS (
      SELECT x, y, SUM(v) OVER (PARTITION BY y ORDER BY x
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cs
      FROM dn
    ),
    sat AS (
      SELECT x, y, CAST(SUM(cs) OVER (PARTITION BY x ORDER BY y
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
               AS s
      FROM cs
    ),
    centers AS (
      SELECT x AS cx, y AS cy FROM grid
      WHERE x BETWEEN 2 AND 61 AND y BETWEEN 2 AND 61
    )
    SELECT c.cx AS x, c.cy AS y,
           round(CAST(br.s - COALESCE(bl.s, 0) - COALESCE(tr.s, 0)
                      + COALESCE(tl.s, 0) AS DOUBLE) / 25.0, 9) AS box_mean
    FROM centers c
    JOIN sat br ON br.x = c.cx + 2 AND br.y = c.cy + 2
    LEFT JOIN sat bl ON bl.x = c.cx - 3 AND bl.y = c.cy + 2
    LEFT JOIN sat tr ON tr.x = c.cx + 2 AND tr.y = c.cy - 3
    LEFT JOIN sat tl ON tl.x = c.cx - 3 AND tl.y = c.cy - 3
    ORDER BY x, y
    """,
)
def q_raster_box_filter_sat(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    img = synthetic_raster(spark, 64, 64, bands=1)
    dn = img.select(
        "x", "y", F.round("b1", 0).cast("bigint").alias("v")
    )
    w_row = Window.partitionBy("y").orderBy("x").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cs = dn.select("x", "y", F.sum("v").over(w_row).alias("cs"))
    w_col = Window.partitionBy("x").orderBy("y").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    sat = cs.select(
        "x", "y", F.sum("cs").over(w_col).cast("bigint").alias("s")
    ).localCheckpoint(eager=True)  # read by all four corner joins

    centers = dn.select(F.col("x").alias("cx"), F.col("y").alias("cy")).where(
        F.col("cx").between(2, 61) & F.col("cy").between(2, 61)
    )

    br = sat.select((F.col("x") - 2).alias("cx"), (F.col("y") - 2).alias("cy"), F.col("s").alias("br"))
    bl = sat.select((F.col("x") + 3).alias("cx"), (F.col("y") - 2).alias("cy"), F.col("s").alias("bl"))
    tr = sat.select((F.col("x") - 2).alias("cx"), (F.col("y") + 3).alias("cy"), F.col("s").alias("tr"))
    tl = sat.select((F.col("x") + 3).alias("cx"), (F.col("y") + 3).alias("cy"), F.col("s").alias("tl"))
    out = (
        centers.join(br, ["cx", "cy"])
        .join(bl, ["cx", "cy"], "left")
        .join(tr, ["cx", "cy"], "left")
        .join(tl, ["cx", "cy"], "left")
    )
    box = (
        F.col("br")
        - F.coalesce(F.col("bl"), F.lit(0))
        - F.coalesce(F.col("tr"), F.lit(0))
        + F.coalesce(F.col("tl"), F.lit(0))
    )
    return out.select(
        F.col("cx").alias("x"),
        F.col("cy").alias("y"),
        F.round(box.cast("double") / 25.0, 9).alias("box_mean"),
    ).orderBy("x", "y")


# ---------------------------------------------------------------------------
# Focal MEDIAN (3x3) — the edge-preserving denoiser (Tukey's median
# smoother; the reference's composite tier is median-based). Median
# is pure order-statistic SELECTION, no arithmetic, so both engines
# agree given the same 9-value multiset: each pixel CONTRIBUTES to
# its 9 covered centers (contribution form shuffles once on the
# center key — the scale shape; a gather form would read 9x), the
# group sorts its collected values, takes index 4, rounds(6). At
# 100 TB this is the same one-shuffle neighborhood pattern as the
# halo exchange, expressed relationally.
@_q(
    "raster_focal_median",
    f"""
    WITH grid AS (
      SELECT CAST(gx.x AS INTEGER) AS x, CAST(gy.y AS INTEGER) AS y
      FROM (SELECT unnest(generate_series(0, 63)) AS x) gx,
           (SELECT unnest(generate_series(0, 63)) AS y) gy
    ),
    px AS (
      SELECT x, y, {_sql_field_z('x', 'y')} AS v FROM grid
    ),
    offs AS (
      SELECT CAST(dx.d AS INTEGER) AS dx, CAST(dy.d AS INTEGER) AS dy
      FROM (SELECT unnest(generate_series(-1, 1)) AS d) dx,
           (SELECT unnest(generate_series(-1, 1)) AS d) dy
    ),
    contribs AS (
      SELECT p.x - o.dx AS cx, p.y - o.dy AS cy, p.v
      FROM px p CROSS JOIN offs o
      WHERE p.x - o.dx BETWEEN 1 AND 62 AND p.y - o.dy BETWEEN 1 AND 62
    )
    SELECT cx AS x, cy AS y,
           round(list_sort(list(v))[5], 6) AS med
    FROM contribs GROUP BY cx, cy ORDER BY x, y
    """,
)
def q_raster_focal_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    img = synthetic_raster(spark, 64, 64, bands=1)
    px = img.select("x", "y", F.col("b1").alias("v"))
    offs = (
        px.sparkSession.range(-1, 2)
        .select(F.col("id").cast("int").alias("dx"))
        .crossJoin(
            px.sparkSession.range(-1, 2).select(
                F.col("id").cast("int").alias("dy")
            )
        )
    )
    contribs = (
        px.crossJoin(F.broadcast(offs))
        .select(
            (F.col("x") - F.col("dx")).alias("cx"),
            (F.col("y") - F.col("dy")).alias("cy"),
            "v",
        )
        .where(F.col("cx").between(1, 62) & F.col("cy").between(1, 62))
    )
    return (
        contribs.groupBy("cx", "cy")
        .agg(
            F.round(
                F.sort_array(F.collect_list("v")).getItem(4), 6
            ).alias("med")
        )
        .select(F.col("cx").alias("x"), F.col("cy").alias("y"), "med")
        .orderBy("x", "y")
    )


@_q("stream_windowed_distinct_hll")
def q_stream_windowed_distinct_hll(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming.events import stream_windowed_distinct_hll

    return stream_windowed_distinct_hll(spark, sf_dir)


# streamed HLL registers == the batch sketch, register for register
# (same md5 layout as sketch_queries._sql_hll, grouped per window)
ORACLES["stream_windowed_distinct_hll"] = """
    WITH h AS (
      SELECT time_bucket(INTERVAL '10 minutes', ts) AS win,
             CAST(('0x' || substring(md5(CAST(user_id AS VARCHAR)), 1, 2)) AS BIGINT)
               AS bucket,
             CAST(('0x' || substring(md5(CAST(user_id AS VARCHAR)), 3, 10)) AS BIGINT)
               AS w
      FROM events
    ), regs AS (
      SELECT win, bucket,
             max(CASE WHEN w = 0 THEN 41 ELSE 41 - length(bin(w)) END) AS m
      FROM h GROUP BY win, bucket
    ), sk AS (
      SELECT win,
             SUM(CAST(1 AS BIGINT) << (41 - m)) AS s_used,
             COUNT(*) AS used
      FROM regs GROUP BY win
    )
    SELECT strftime(win, '%Y-%m-%d %H:%M:%S') AS wstart,
           CAST(used AS BIGINT) AS buckets_used,
           round(CASE WHEN (0.7213 / (1.0 + 1.079 / 256.0) * 65536.0
                            * 2199023255552.0
                            / (s_used + (256 - used) * CAST(2199023255552 AS BIGINT)))
                           <= 640.0 AND (256 - used) > 0
                      THEN 256.0 * ln(256.0 / (256 - used))
                      ELSE 0.7213 / (1.0 + 1.079 / 256.0) * 65536.0
                           * 2199023255552.0
                           / (s_used + (256 - used) * CAST(2199023255552 AS BIGINT))
                      END, 4) AS hll_users
    FROM sk
    ORDER BY wstart
    """


# ---------------------------------------------------------------------------
# TTL-state streaming dedup vs its pure-window batch twin: the stream
# keeps one last-seen timestamp per (user, type) key with event-time
# TTL eviction; the oracle derives the identical admit set from lag()
# — admitted iff no same-key event within the preceding 30 minutes.
@_q(
    "stream_ttl_dedup",
    """
    WITH g AS (
      SELECT user_id, event_type, event_id, ts,
             lag(ts) OVER (PARTITION BY user_id, event_type
                           ORDER BY ts, event_id) AS prev
      FROM events
    ),
    adm AS (
      SELECT * FROM g
      WHERE prev IS NULL OR ts - prev > INTERVAL 30 MINUTE
    )
    SELECT user_id, event_type,
           COUNT(*) AS n_admitted,
           CAST(SUM(event_id) AS BIGINT) AS id_checksum
    FROM adm GROUP BY user_id, event_type
    ORDER BY user_id, event_type
    """,
)
def q_stream_ttl_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming.events import stream_ttl_dedup

    admitted = stream_ttl_dedup(spark, sf_dir)
    return (
        admitted.groupBy("user_id", "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_admitted"),
            F.sum("event_id").cast("bigint").alias("id_checksum"),
        )
        .orderBy("user_id", "event_type")
    )


# ---------------------------------------------------------------------------
# Watermark lateness observability: the staged three-batch replay's
# admit/drop outcome, hash-checked against a PURE SQL twin of Spark's
# two-watermark rule (filter with the wm in effect one batch earlier;
# seal with the final wm; ms-truncated). See
# streaming.events.stream_late_drop_audit for the full semantics.
@_q(
    "stream_late_drop_audit",
    """
    WITH base AS (
      SELECT event_id, epoch_us(ts) AS us FROM events
    ),
    bounds AS (SELECT MIN(us) AS lo, MAX(us) AS hi FROM base),
    arr AS (
      SELECT us,
             LEAST(
               (CASE WHEN us < lo + (hi - lo) // 3 THEN 0
                     WHEN us < lo + (2 * (hi - lo)) // 3 THEN 1
                     ELSE 2 END)
               + (CASE WHEN CAST(('0x' || substring(
                        md5(CAST(event_id AS VARCHAR)), 1, 4)) AS INTEGER)
                        % 5 = 0 THEN 2 ELSE 0 END),
               2) AS b
      FROM base, bounds
    ),
    bmax AS (SELECT b, MAX(us) AS mx FROM arr GROUP BY b),
    wms AS (
      SELECT
        ((SELECT MAX(mx) FROM bmax WHERE b <= 0) // 1000 - 300000) * 1000
          AS filter_wm_b2,
        ((SELECT MAX(mx) FROM bmax) // 1000 - 300000) * 1000 AS final_wm
    ),
    admitted AS (
      SELECT (us // 600000000) * 600000000 AS ws
      FROM arr, wms
      WHERE NOT (b = 2
                 AND (us // 600000000) * 600000000 + 600000000
                     <= filter_wm_b2)
    ),
    wcount AS (SELECT ws, COUNT(*) AS n_admitted FROM admitted GROUP BY ws),
    total AS (
      SELECT (us // 600000000) * 600000000 AS ws, COUNT(*) AS n_total
      FROM base GROUP BY 1
    )
    SELECT strftime(make_timestamp(w.ws), '%Y-%m-%d %H:%M:%S') AS wstart,
           w.n_admitted, t.n_total,
           CAST(t.n_total - w.n_admitted AS BIGINT) AS n_late_dropped
    FROM wcount w JOIN total t ON t.ws = w.ws, wms
    WHERE w.ws + 600000000 <= final_wm
    ORDER BY wstart
    """,
)
def q_stream_late_drop_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming.events import stream_late_drop_audit

    return stream_late_drop_audit(spark, sf_dir)


# ---------------------------------------------------------------------------
# Session-window + watermark LATE-DATA semantics (r14, SURVEY §7 hard
# part 5): append-mode session windows over a deterministic three-batch
# replay with one provably dropped late row and a watermark-advancing
# sentinel. The twin replays Spark's TWO-watermark discipline
# (SPARK-40925) relationally: a row is kept iff its tentative session
# end (ts + gap) clears the FILTERING watermark of its batch — the
# watermark computed from batches AT LEAST TWO positions earlier
# (filtering lags eviction by one batch) — and a session is emitted
# iff its window end closed below the FINAL watermark. All fixture
# boundaries carry >= 5 min slack so <= vs < edge semantics cannot
# flip a row. Full design notes (incl. why no pre-agg user filter is
# possible: Catalyst pushes it below EventTimeWatermark):
# streaming/events.py stream_session_window_late_data.
@_q(
    "session_window_late_data",
    """
    WITH raw(batch, user_id, ts) AS (
      VALUES
        (1,  1, TIMESTAMP '2024-01-01 10:00:00'),
        (1,  1, TIMESTAMP '2024-01-01 10:05:00'),
        (1,  2, TIMESTAMP '2024-01-01 10:02:00'),
        (1, -1, TIMESTAMP '2024-01-01 12:00:00'),
        (2,  3, TIMESTAMP '2024-01-01 12:01:00'),
        (3,  1, TIMESTAMP '2024-01-01 10:08:00'),
        (3,  2, TIMESTAMP '2024-01-01 12:05:00')
    ),
    batch_max AS (SELECT batch, max(ts) AS mx FROM raw GROUP BY batch),
    kept AS (
      SELECT r.user_id, r.ts
      FROM raw r
      WHERE ((SELECT max(mx) FROM batch_max p WHERE p.batch <= r.batch - 2)
               IS NULL
             OR r.ts + INTERVAL 30 MINUTE
                > (SELECT max(mx) FROM batch_max p
                   WHERE p.batch <= r.batch - 2)
                  - INTERVAL 10 MINUTE)
    ),
    fw AS (SELECT max(mx) - INTERVAL 10 MINUTE AS wm FROM batch_max),
    flagged AS (
      SELECT user_id, ts,
             CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
                       IS NULL
                  OR ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
                     >= INTERVAL 30 MINUTE
                  THEN 1 ELSE 0 END AS new_s
      FROM kept
    ),
    ids AS (
      SELECT user_id, ts,
             SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts
                              ROWS UNBOUNDED PRECEDING) AS sid
      FROM flagged
    ),
    agg AS (
      SELECT user_id,
             min(ts) AS s_start,
             max(ts) + INTERVAL 30 MINUTE AS s_end,
             count(*) AS n_events
      FROM ids GROUP BY user_id, sid
    )
    SELECT CAST(user_id AS BIGINT) AS user_id,
           strftime(s_start, '%Y-%m-%d %H:%M:%S') AS session_start,
           strftime(s_end, '%Y-%m-%d %H:%M:%S') AS session_end,
           CAST(n_events AS BIGINT) AS n_events
    FROM agg WHERE s_end < (SELECT wm FROM fw)
    ORDER BY user_id, session_start
    """,
)
def q_session_window_late_data(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming.events import stream_session_window_late_data

    return stream_session_window_late_data(spark)


# ---------------------------------------------------------------------------
# Zonal majority (mode) filter — the LULC post-classification staple
# (the reference's domain: smooth a pixel classification by assigning
# each zone its most frequent class). Classes come from the engine's
# own CASE-relabel tier over the synthetic field; zones are 8x8
# blocks; the mode is a pure count + row_number with a DETERMINISTIC
# tie-break (highest count, then smallest class id) — selection, not
# arithmetic, so the oracle is exact by construction. Scale: one
# data-sized shuffle to (zone, class) counts, then a tiny window over
# zones — the same two-stage shape as any top-1-per-group.
@_q(
    "zonal_majority_class",
    f"""
    WITH grid AS (
      SELECT CAST(gx.x AS INTEGER) AS x, CAST(gy.y AS INTEGER) AS y
      FROM (SELECT unnest(generate_series(0, 63)) AS x) gx,
           (SELECT unnest(generate_series(0, 63)) AS y) gy
    ),
    px AS (
      SELECT x, y, {_sql_field_z('x', 'y')} AS v FROM grid
    ),
    classed AS (
      SELECT x // 8 AS zx, y // 8 AS zy,
             CASE WHEN v < 60.0 THEN 1 WHEN v < 110.0 THEN 2
                  WHEN v < 160.0 THEN 3 ELSE 4 END AS cls
      FROM px
    ),
    counts AS (
      SELECT zx, zy, cls, COUNT(*) AS n
      FROM classed GROUP BY zx, zy, cls
    ),
    ranked AS (
      SELECT zx, zy, cls, n,
             row_number() OVER (PARTITION BY zx, zy
                                ORDER BY n DESC, cls) AS rn,
             SUM(n) OVER (PARTITION BY zx, zy) AS tot
      FROM counts
    )
    SELECT CAST(zx AS INTEGER) AS zx, CAST(zy AS INTEGER) AS zy,
           CAST(cls AS INTEGER) AS majority_class,
           CAST(n AS BIGINT) AS n_pixels,
           round(CAST(n AS DOUBLE) / tot, 6) AS purity
    FROM ranked WHERE rn = 1 ORDER BY zx, zy
    """,
)
def q_zonal_majority_class(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    img = synthetic_raster(spark, 64, 64, bands=1)
    v = F.col("b1")
    classed = img.select(
        F.expr("x div 8").alias("zx"),
        F.expr("y div 8").alias("zy"),
        F.when(v < 60.0, 1)
        .when(v < 110.0, 2)
        .when(v < 160.0, 3)
        .otherwise(4)
        .alias("cls"),
    )
    counts = classed.groupBy("zx", "zy", "cls").agg(
        F.count(F.lit(1)).alias("n")
    )
    wz = Window.partitionBy("zx", "zy")
    ranked = counts.select(
        "zx",
        "zy",
        "cls",
        "n",
        F.row_number()
        .over(wz.orderBy(F.desc("n"), F.asc("cls")))
        .alias("rn"),
        F.sum("n").over(wz).alias("tot"),
    )
    return (
        ranked.where(F.col("rn") == 1)
        .select(
            F.col("zx").cast("int").alias("zx"),
            F.col("zy").cast("int").alias("zy"),
            F.col("cls").cast("int").alias("majority_class"),
            F.col("n").cast("bigint").alias("n_pixels"),
            F.round(F.col("n").cast("double") / F.col("tot"), 6).alias(
                "purity"
            ),
        )
        .orderBy("zx", "zy")
    )


# ---------------------------------------------------------------------------
# D8 flow direction (O'Callaghan & Mark CVGIP 1984) — hydrology's
# first raster op: each interior DEM cell drains to the steepest of
# its 8 neighbors (drop / distance, diagonal distance sqrt(2)), or is
# a SINK (code 0) when no neighbor is lower. Pure selection over the
# closed-form field: the steepest-descent rank orders on the drop
# rate ROUNDED to 9 with the ESRI direction-code tiebreak, so libm
# ulps cannot flip a direction; the output is the per-direction
# histogram (codes 1,2,4,...,128 + sinks). One contribution-form
# shuffle, the halo-exchange neighborhood pattern expressed
# relationally.
@_q(
    "d8_flow_direction",
    f"""
    WITH grid AS (
      SELECT CAST(gx.x AS INTEGER) AS x, CAST(gy.y AS INTEGER) AS y
      FROM (SELECT unnest(generate_series(0, 63)) AS x) gx,
           (SELECT unnest(generate_series(0, 63)) AS y) gy
    ),
    px AS (SELECT x, y, {_sql_field_z('x', 'y')} AS z FROM grid),
    offs AS (
      SELECT * FROM (VALUES
        (1,  1,  0, 1.0), (2,  1,  1, 1.4142135623730951),
        (4,  0,  1, 1.0), (8, -1,  1, 1.4142135623730951),
        (16, -1, 0, 1.0), (32, -1, -1, 1.4142135623730951),
        (64,  0, -1, 1.0), (128, 1, -1, 1.4142135623730951)
      ) v(code, dx, dy, dist)
    ),
    drops AS (
      SELECT c.x, c.y, o.code,
             round((c.z - n.z) / o.dist, 9) AS rate
      FROM px c JOIN offs o ON TRUE
      JOIN px n ON n.x = c.x + o.dx AND n.y = c.y + o.dy
      WHERE c.x BETWEEN 1 AND 62 AND c.y BETWEEN 1 AND 62
    ),
    best AS (
      SELECT x, y, code, rate,
             row_number() OVER (PARTITION BY x, y
                                ORDER BY rate DESC, code) AS rn
      FROM drops
    ),
    dirs AS (
      SELECT CASE WHEN rate > 0 THEN code ELSE 0 END AS direction
      FROM best WHERE rn = 1
    )
    SELECT CAST(direction AS INTEGER) AS direction,
           CAST(COUNT(*) AS BIGINT) AS n_cells
    FROM dirs GROUP BY direction ORDER BY direction
    """,
)
def q_d8_flow_direction(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    img = synthetic_raster(spark, 64, 64, bands=1)
    px = img.select("x", "y", F.col("b1").alias("z"))
    offs = spark.createDataFrame(
        [
            (1, 1, 0, 1.0),
            (2, 1, 1, 1.4142135623730951),
            (4, 0, 1, 1.0),
            (8, -1, 1, 1.4142135623730951),
            (16, -1, 0, 1.0),
            (32, -1, -1, 1.4142135623730951),
            (64, 0, -1, 1.0),
            (128, 1, -1, 1.4142135623730951),
        ],
        "code int, dx int, dy int, dist double",
    )
    centers = px.where(
        F.col("x").between(1, 62) & F.col("y").between(1, 62)
    ).select(F.col("x").alias("cx"), F.col("y").alias("cy"), F.col("z").alias("zc"))
    nb = px.select(
        F.col("x").alias("nx"), F.col("y").alias("ny"), F.col("z").alias("zn")
    )
    drops = (
        centers.crossJoin(F.broadcast(offs))
        .join(
            nb,
            (F.col("nx") == F.col("cx") + F.col("dx"))
            & (F.col("ny") == F.col("cy") + F.col("dy")),
        )
        .select(
            "cx",
            "cy",
            "code",
            F.round((F.col("zc") - F.col("zn")) / F.col("dist"), 9).alias(
                "rate"
            ),
        )
    )
    w = Window.partitionBy("cx", "cy").orderBy(F.desc("rate"), F.asc("code"))
    best = drops.withColumn("rn", F.row_number().over(w)).where(
        F.col("rn") == 1
    )
    dirs = best.select(
        F.when(F.col("rate") > 0, F.col("code")).otherwise(0).alias("direction")
    )
    return (
        dirs.groupBy("direction")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_cells"))
        .select(F.col("direction").cast("int").alias("direction"), "n_cells")
        .orderBy("direction")
    )


# ---------------------------------------------------------------------------
# Topographic Position Index + Terrain Ruggedness Index (Weiss 2001;
# Riley et al. 1999) — the two standard DEM derivatives after
# slope/aspect: TPI = z - mean(8 neighbors) classifies ridges (>0) /
# valleys (<0); TRI = mean |z - z_n| measures local ruggedness. Both
# via ONE contribution-form shuffle; the per-neighbor terms round to
# 12 and accumulate as DECIMAL(38,12) (order-free), aggregated to
# 8x8 zone summaries to keep the output compact.
@_q(
    "dem_tpi_tri",
    f"""
    WITH grid AS (
      SELECT CAST(gx.x AS INTEGER) AS x, CAST(gy.y AS INTEGER) AS y
      FROM (SELECT unnest(generate_series(0, 63)) AS x) gx,
           (SELECT unnest(generate_series(0, 63)) AS y) gy
    ),
    px AS (SELECT x, y, {_sql_field_z('x', 'y')} AS z FROM grid),
    offs AS (
      SELECT CAST(dx.d AS INTEGER) AS dx, CAST(dy.d AS INTEGER) AS dy
      FROM (SELECT unnest(generate_series(-1, 1)) AS d) dx,
           (SELECT unnest(generate_series(-1, 1)) AS d) dy
      WHERE NOT (dx.d = 0 AND dy.d = 0)
    ),
    terms AS (
      SELECT c.x, c.y,
             CAST(round(c.z - n.z, 12) AS DECIMAL(38,12)) AS diff,
             CAST(round(abs(c.z - n.z), 12) AS DECIMAL(38,12)) AS adiff
      FROM px c JOIN offs o ON TRUE
      JOIN px n ON n.x = c.x + o.dx AND n.y = c.y + o.dy
      WHERE c.x BETWEEN 1 AND 62 AND c.y BETWEEN 1 AND 62
    ),
    cellstats AS (
      SELECT x, y,
             round(CAST(SUM(diff) AS DOUBLE) / 8.0, 9) AS tpi,
             round(CAST(SUM(adiff) AS DOUBLE) / 8.0, 9) AS tri
      FROM terms GROUP BY x, y
    )
    SELECT CAST(x // 8 AS INTEGER) AS zx, CAST(y // 8 AS INTEGER) AS zy,
           round(CAST(SUM(CAST(tpi AS DECIMAL(38,9))) AS DOUBLE)
                 / COUNT(*), 6) AS mean_tpi,
           round(CAST(SUM(CAST(tri AS DECIMAL(38,9))) AS DOUBLE)
                 / COUNT(*), 6) AS mean_tri,
           MAX(tri) AS max_tri,
           CAST(SUM(CASE WHEN tpi > 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_ridge_cells
    FROM cellstats GROUP BY 1, 2 ORDER BY zx, zy
    """,
)
def q_dem_tpi_tri(spark: SparkSession, sf_dir: str) -> DataFrame:
    img = synthetic_raster(spark, 64, 64, bands=1)
    px = img.select("x", "y", F.col("b1").alias("z"))
    offs = (
        spark.range(-1, 2)
        .select(F.col("id").cast("int").alias("dx"))
        .crossJoin(spark.range(-1, 2).select(F.col("id").cast("int").alias("dy")))
        .where(~((F.col("dx") == 0) & (F.col("dy") == 0)))
    )
    centers = px.where(
        F.col("x").between(1, 62) & F.col("y").between(1, 62)
    ).select(F.col("x").alias("cx"), F.col("y").alias("cy"), F.col("z").alias("zc"))
    nb = px.select(
        F.col("x").alias("nx"), F.col("y").alias("ny"), F.col("z").alias("zn")
    )
    diff = F.col("zc") - F.col("zn")
    terms = (
        centers.crossJoin(F.broadcast(offs))
        .join(
            nb,
            (F.col("nx") == F.col("cx") + F.col("dx"))
            & (F.col("ny") == F.col("cy") + F.col("dy")),
        )
        .select(
            "cx",
            "cy",
            F.round(diff, 12).cast("decimal(38,12)").alias("diff"),
            F.round(F.abs(diff), 12).cast("decimal(38,12)").alias("adiff"),
        )
    )
    cellstats = terms.groupBy("cx", "cy").agg(
        F.round(F.sum("diff").cast("double") / 8.0, 9).alias("tpi"),
        F.round(F.sum("adiff").cast("double") / 8.0, 9).alias("tri"),
    )
    return (
        cellstats.groupBy(
            F.expr("cx div 8").cast("int").alias("zx"),
            F.expr("cy div 8").cast("int").alias("zy"),
        )
        .agg(
            F.round(
                F.sum(F.col("tpi").cast("decimal(38,9)")).cast("double")
                / F.count(F.lit(1)),
                6,
            ).alias("mean_tpi"),
            F.round(
                F.sum(F.col("tri").cast("decimal(38,9)")).cast("double")
                / F.count(F.lit(1)),
                6,
            ).alias("mean_tri"),
            F.max("tri").alias("max_tri"),
            F.sum(F.when(F.col("tpi") > 0, 1).otherwise(0))
            .cast("bigint")
            .alias("n_ridge_cells"),
        )
        .orderBy("zx", "zy")
    )


# ---------------------------------------------------------------------------
# Marching-squares contour census (Lorensen & Cline's 2D case table,
# SIGGRAPH 1987 lineage): for each iso-level, classify every 2x2
# pixel cell by which corners sit above the level — the case index
# IS the contour topology (0/15 = no crossing, 5/10 = saddle, rest =
# one segment). Counting cases is pure integer work over corner
# comparisons (threshold margins on this field are >= 0.007, see
# zonal_majority_class), so the census — crossing cells, saddles,
# and the segment count estimate — is exactly oracle-checkable. One
# self-join on the pixel key per corner; at 100 TB this is the
# halo-exchange 2x2 stencil expressed relationally.
@_q(
    "contour_cell_census",
    f"""
    WITH grid AS (
      SELECT CAST(gx.x AS INTEGER) AS x, CAST(gy.y AS INTEGER) AS y
      FROM (SELECT unnest(generate_series(0, 63)) AS x) gx,
           (SELECT unnest(generate_series(0, 63)) AS y) gy
    ),
    levels AS (SELECT CAST(unnest([80.0, 120.0, 160.0]) AS DOUBLE) AS lvl),
    cases AS (
      -- corner values straight from the closed form (a 4-way join on
      -- arithmetic keys nested-loops in the oracle engine; the Spark
      -- side keeps the honest relational stencil joins)
      SELECT l.lvl,
             (CASE WHEN {_sql_field_z('g.x', 'g.y')} > l.lvl THEN 8 ELSE 0 END
              + CASE WHEN {_sql_field_z('g.x + 1', 'g.y')} > l.lvl THEN 4 ELSE 0 END
              + CASE WHEN {_sql_field_z('g.x + 1', 'g.y + 1')} > l.lvl THEN 2 ELSE 0 END
              + CASE WHEN {_sql_field_z('g.x', 'g.y + 1')} > l.lvl THEN 1 ELSE 0 END) AS cs
      FROM grid g CROSS JOIN levels l
      WHERE g.x < 63 AND g.y < 63
    )
    SELECT lvl AS level,
           CAST(SUM(CASE WHEN cs NOT IN (0, 15) THEN 1 ELSE 0 END)
                AS BIGINT) AS n_crossing_cells,
           CAST(SUM(CASE WHEN cs IN (5, 10) THEN 1 ELSE 0 END)
                AS BIGINT) AS n_saddles,
           CAST(SUM(CASE WHEN cs IN (5, 10) THEN 2
                         WHEN cs NOT IN (0, 15) THEN 1
                         ELSE 0 END) AS BIGINT) AS n_segments
    FROM cases GROUP BY lvl ORDER BY level
    """,
)
def q_contour_cell_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    img = synthetic_raster(spark, 64, 64, bands=1)
    px = img.select("x", "y", F.col("b1").alias("z"))

    def corner(nx: str, ny: str, alias_: str) -> DataFrame:
        return px.select(
            F.col("x").alias(nx), F.col("y").alias(ny), F.col("z").alias(alias_)
        )

    a = corner("ax", "ay", "za")
    b = corner("bx", "by", "zb")
    c = corner("cx", "cy", "zc")
    d = corner("dx", "dy", "zd")
    cells = (
        a.join(b, (F.col("bx") == F.col("ax") + 1) & (F.col("by") == F.col("ay")))
        .join(
            c,
            (F.col("cx") == F.col("ax") + 1) & (F.col("cy") == F.col("ay") + 1),
        )
        .join(d, (F.col("dx") == F.col("ax")) & (F.col("dy") == F.col("ay") + 1))
    )
    levels = spark.createDataFrame(
        [(80.0,), (120.0,), (160.0,)], "lvl double"
    )
    lv = F.col("lvl")
    cs = (
        F.when(F.col("za") > lv, 8).otherwise(0)
        + F.when(F.col("zb") > lv, 4).otherwise(0)
        + F.when(F.col("zc") > lv, 2).otherwise(0)
        + F.when(F.col("zd") > lv, 1).otherwise(0)
    )
    cases = cells.crossJoin(F.broadcast(levels)).select(
        "lvl", cs.alias("cs")
    )
    crossing = ~F.col("cs").isin(0, 15)
    saddle = F.col("cs").isin(5, 10)
    return (
        cases.groupBy(F.col("lvl").alias("level"))
        .agg(
            F.sum(F.when(crossing, 1).otherwise(0))
            .cast("bigint")
            .alias("n_crossing_cells"),
            F.sum(F.when(saddle, 1).otherwise(0))
            .cast("bigint")
            .alias("n_saddles"),
            F.sum(
                F.when(saddle, 2).when(crossing, 1).otherwise(0)
            )
            .cast("bigint")
            .alias("n_segments"),
        )
        .orderBy("level")
    )


# ---------------------------------------------------------------------------
# E1 on an EXACT lattice (r13): the composed feature-stack chain —
# sentinel masking (P5/P6) -> spectral index -> grouped nan-median
# composite (A1) -> argmax composite with payload (A2) — with every
# value an exact dyadic rational, so the whole pipeline is
# oracle-paired (the float-kernel E1 stays rows-only; this closes the
# "composed pipeline has no SQL twin" gap with the SAME operators).
# Integer DNs; index = (nir - red) / 256.0 is exact in binary; the
# even-count median averages two dyadics (exact); argmax ties break
# deterministically by (idx, scene) struct order == the SQL twin's
# MAX(scene) among max-idx rows. Winner payload (red/nir of the
# winning scene) is recomputed closed-form from the winner scene id —
# bit-identical in both engines by construction.
# Reference anchor: `0_preprocessing/feature_stacking.py:106-167`
# (nanmedian + masked argmax composites).
@_q(
    "pipeline_feature_stack_exact",
    """
    WITH px AS (
      SELECT CAST(i % 64 AS BIGINT) AS x,
             CAST((i // 64) % 64 AS BIGINT) AS y,
             CAST(i // 4096 + 1 AS BIGINT) AS scene,
             CAST((i % 64) * 3 + ((i // 64) % 64) * 5
                  + (i // 4096 + 1) * 7 AS BIGINT) % 200 AS red,
             CASE WHEN ((i % 64) + ((i // 64) % 64) + (i // 4096 + 1)) % 7 = 0
                  THEN NULL
                  ELSE CAST((i % 64) * 7 + ((i // 64) % 64) * 11
                            + (i // 4096 + 1) * 13 AS BIGINT) % 200
             END AS nir
      FROM range(20480) t(i)
    ),
    idxed AS (
      SELECT x, y, scene, red, nir,
             (CAST(nir AS DOUBLE) - red) / 256.0 AS idx
      FROM px WHERE nir IS NOT NULL
    ),
    agg AS (
      SELECT x, y,
             COUNT(*) AS n_obs,
             median(idx) AS median_idx,
             MAX(idx) AS max_idx
      FROM idxed GROUP BY x, y
    ),
    win AS (
      SELECT i.x, i.y, MAX(i.scene) AS winner_scene
      FROM idxed i JOIN agg a ON i.x = a.x AND i.y = a.y
      WHERE i.idx = a.max_idx
      GROUP BY i.x, i.y
    )
    SELECT a.x, a.y, a.n_obs, a.median_idx, a.max_idx, w.winner_scene,
           CAST(a.x * 3 + a.y * 5 + w.winner_scene * 7 AS BIGINT) % 200
             AS winner_red,
           CAST(a.x * 7 + a.y * 11 + w.winner_scene * 13 AS BIGINT) % 200
             AS winner_nir
    FROM agg a JOIN win w ON a.x = w.x AND a.y = w.y
    ORDER BY a.x, a.y
    """,
)
def e1_feature_stack_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    px = spark.range(20480).select(
        (F.col("id") % 64).alias("x"),
        (F.expr("id div 64") % 64).alias("y"),
        (F.expr("id div 4096") + 1).alias("scene"),
    )
    px = px.select(
        "x",
        "y",
        "scene",
        ((F.col("x") * 3 + F.col("y") * 5 + F.col("scene") * 7) % 200).alias(
            "red"
        ),
        F.when(
            (F.col("x") + F.col("y") + F.col("scene")) % 7 == 0, F.lit(None)
        )
        .otherwise(
            (F.col("x") * 7 + F.col("y") * 11 + F.col("scene") * 13) % 200
        )
        .alias("nir"),
    )
    idxed = px.where(F.col("nir").isNotNull()).withColumn(
        "idx", (F.col("nir").cast("double") - F.col("red")) / F.lit(256.0)
    )
    med = grouped_median(idxed, ["x", "y"], "idx", out_col="median_idx")
    n_obs = idxed.groupBy("x", "y").agg(F.count(F.lit(1)).alias("n_obs"))
    winner = argmax_composite(idxed, ["x", "y"], "idx", ["scene"])
    out = (
        n_obs.join(med, ["x", "y"])
        .join(winner, ["x", "y"])
        .select(
            "x",
            "y",
            "n_obs",
            "median_idx",
            F.col("max_idx"),
            F.col("scene").alias("winner_scene"),
            ((F.col("x") * 3 + F.col("y") * 5 + F.col("scene") * 7) % 200)
            .alias("winner_red"),
            ((F.col("x") * 7 + F.col("y") * 11 + F.col("scene") * 13) % 200)
            .alias("winner_nir"),
        )
    )
    return out.orderBy("x", "y")
