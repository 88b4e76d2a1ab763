"""The complete reference workflow E1→E2→E3→E4 as ONE chained
DataFrame program with stage-level parquet checkpointing — the §4
memoization policy applied end-to-end (each stage is a named dataset;
reruns skip completed stages, exactly the reference's
``os.path.exists`` discipline, `0_preprocessing/feature_stacking.py:261-262`).

r15: oracle-paired (was rows-only), via the exact-lattice recipe that
converted E2 (r14) and E3/E4 (r15). The chain runs over a 96×96
region lattice aligned to the 32-px tile grid: 9 tiles × 4 rectangles
(types G 19×12, H 13×12, I 9×20, J 23×20; mirrored layout on odd tile
columns so every type occurs at both segment_key parities). Scenes are
region-constant (red/nir are functions of (region, scene) with a
region-aligned cloud mask, P5/P6), so E1's median/argmax composites
are constant per region; E2's RF is a pure function of the stack
vector, so `final_label` is constant per region too — the FH04 stage
(scale=0.1) therefore provably reproduces the region map: intra-region
edges weigh exactly 0, cross-region edges ≥ the min inter-region
median-NDVI gap (≥0.005, asserted in tests/test_round15_ops.py) >
scale/min_region_size = 0.1/108. E4's dual RF (bootstrap=False +
featureSubsetStrategy="all", every distinct shape vector in the seg%2
training split) reproduces the generating label rule unanimously.

The chain's OUTPUT — (segment_key, geometry, PredClass) — carries no
floats, so the DuckDB twin is the closed-form region enumeration with
the E4 label rule; the float stages' invariants (constancy,
distinctness, RF unanimity) are pinned locally by the round-15 tests.

Flow on the lattice scene set:
  E1  feature stack  : median + max-NDVI composites, zip-joined
  E2  pixel classify : RF on stack bands + CASE relabel
  E3  segmentation   : halo-tiled FH04 over (stack + label) features
  E4  object classify: shape metrics → dual-model RF → PredClass
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.indices import ndvi, ndwi
from ..operators.composites import argmax_composite, grouped_median
from ..operators.relabel import solar_shadow_rules
from ..raster.segmentation import segment_shape_metrics, segment_tiles
from ..raster.tiles import halo_duplicate
from ._util import registry
from .checkpoint import stage, stage_root

QUERIES, ORACLES, _q = registry()

# Region layout per 32×32 tile (normal / mirrored for odd tile_x):
#   band y+[0,12):  G 19×12 @x+0 (mirr @x+13), H 13×12 @x+19 (mirr @x+0)
#   band y+[12,32): I  9×20 @x+0 (mirr @x+23), J 23×20 @x+9  (mirr @x+0)
_CHAIN_SHAPES = [
    # (type_idx, w, h, band_y0, x_normal, x_mirrored)
    (1, 19, 12, 0, 0, 13),
    (2, 13, 12, 0, 19, 0),
    (3, 9, 20, 12, 0, 23),
    (4, 23, 20, 12, 9, 0),
]

_CHAIN_REGION_SQL = """
    SELECT (tt.tx * 32 + CASE WHEN tt.tx % 2 = 1 THEN s.xm ELSE s.xn END) AS x0,
           (tt.ty * 32 + s.y0r) AS y0,
           s.w AS w, s.h AS h
    FROM (SELECT t.i % 3 AS tx, t.i // 3 AS ty
          FROM (SELECT unnest(generate_series(0, 8)) AS i) t) tt,
         (VALUES (19, 12, 0, 0, 13), (13, 12, 0, 19, 0),
                 (9, 20, 12, 0, 23), (23, 20, 12, 9, 0)) s(w, h, y0r, xn, xm)
"""


def _chain_regions(spark: SparkSession) -> DataFrame:
    rows = []
    for ty in range(3):
        for tx in range(3):
            for t, w, h, y0r, xn, xm in _CHAIN_SHAPES:
                x0 = tx * 32 + (xm if tx % 2 == 1 else xn)
                y0 = ty * 32 + y0r
                code = (ty * 3 + tx) * 4 + t
                rows.append((x0, y0, w, h, code))
    return spark.createDataFrame(rows, "x0 int, y0 int, w int, h int, code int")


def _chain_scenes(spark: SparkSession, n_scenes: int = 6) -> DataFrame:
    """Region-constant multi-scene synthesis: per region code c, an
    NDVI level v(c) spread over [-0.6, 0.6) by the coprime stride 17
    (adjacent codes differ by ≥ 1.2/36 ≈ 0.033 in v), realized as
    red = 200(1-v)+3s, nir = 200(1+v)+5s, with the region-aligned
    cloud mask (c+s)%7==0 → sentinel nodata (P5/P6). Constancy within
    a region is by construction; the mask being region-aligned (not
    pixel-diagonal, as in the standalone E1 fixture) is what keeps the
    median over *available* scenes region-constant."""
    regions = _chain_regions(spark)
    px = spark.range(96 * 96).select(
        (F.col("id") % 96).cast("int").alias("x"),
        F.expr("CAST(id DIV 96 AS INT)").alias("y"),
    )
    px = px.join(
        F.broadcast(regions),
        (px.x >= F.col("x0")) & (px.x < F.col("x0") + F.col("w"))
        & (px.y >= F.col("y0")) & (px.y < F.col("y0") + F.col("h")),
    ).select("x", "y", "code")
    sc = px.withColumn(
        "scene", F.explode(F.array(*[F.lit(s) for s in range(1, n_scenes + 1)]))
    )
    v = -0.6 + 1.2 * (((F.col("code") * 17) % 36).cast("double") + 0.5) / 36.0
    red = 200.0 * (1.0 - v) + 3.0 * F.col("scene")
    nir = 200.0 * (1.0 + v) + 5.0 * F.col("scene")
    masked_nir = F.when(
        (F.col("code") + F.col("scene")) % 7 == 0, F.lit(-9999.0)
    ).otherwise(nir)
    return sc.select("x", "y", "scene", red.alias("red"), masked_nir.alias("nir"))


def run_full_pipeline(
    spark: SparkSession, sf_dir: str, workdir: str | None = None
) -> DataFrame:
    """E1→E4 with every stage behind a compute-if-absent parquet
    product: a rerun skips straight to reading the persisted bytes —
    the whole stage construction including the eager RF fits is
    elided, not just the write."""
    from ..functions.sentinels import null_to_sentinel, sentinel_to_null
    from ..ml.classify import dual_model_predict, predict, train_rf

    root = workdir if workdir is not None else f"{stage_root(sf_dir)}/chain"

    # E1: median + argmax composites over the lattice scene set
    def _build_stack() -> DataFrame:
        scenes = _chain_scenes(spark)
        px = scenes.select(
            "x", "y", "scene",
            sentinel_to_null(F.col("red")).alias("red"),
            sentinel_to_null(F.col("nir")).alias("nir"),
        ).withColumn("ndvi", ndvi(F.col("nir"), F.col("red")))
        med = grouped_median(px, ["x", "y"], "ndvi", out_col="median_ndvi")
        winner = argmax_composite(px, ["x", "y"], "ndvi", ["red", "nir"])
        stack = med.join(winner, ["x", "y"], "left")
        return stack.select(
            "x", "y",
            F.round(null_to_sentinel(F.col("median_ndvi")), 6).alias("median_ndvi"),
            F.round(null_to_sentinel(F.col("max_ndvi")), 6).alias("max_ndvi"),
            F.round(null_to_sentinel(ndwi(F.col("red"), F.col("nir"))), 6).alias(
                "winter_ndwi"
            ),
        )

    stack = stage(spark, f"{root}/e1_stack", _build_stack)

    # E2: pixel classification over the stack (prediction is a pure
    # function of the stack vector → final_label is region-constant)
    def _build_pixels() -> DataFrame:
        labeled = stack.withColumn(
            "label",
            F.when(F.col("median_ndvi") > 0.2, 12.0)
            .when(F.col("max_ndvi") > 0.5, 16.0)
            .otherwise(2.0),
        )
        train = labeled.where((F.col("x") + F.col("y")) % 3 == 0)
        model = train_rf(
            train, ["median_ndvi", "max_ndvi", "winter_ndwi"], "label",
            num_trees=20, max_depth=8,
            feature_subset_strategy="all", bootstrap=False,
        )
        scored = predict(model, labeled.drop("label"), out_col="pred")
        pixels = scored.withColumn(
            "final_label",
            solar_shadow_rules(F.col("pred"), F.col("pred_conf")).cast("int"),
        )
        return pixels.select("x", "y", "median_ndvi", "max_ndvi", "final_label")

    pixels = stage(spark, f"{root}/e2_pixels", _build_pixels)

    # E3: segmentation over composite bands + predicted label field.
    # scale=0.1: cross-region merge needs an edge weight ≤ 0.1/|C| ≤
    # 0.1/108 < 0.001, below the asserted ≥0.005 inter-region gap.
    def _build_metrics() -> DataFrame:
        tiled = halo_duplicate(pixels, tile_size=32, halo=8)
        # checkpointed: the key and the metrics both read it, and FH04
        # should run once
        segs = segment_tiles(
            tiled, ["median_ndvi", "max_ndvi", "final_label"],
            scale=0.1, min_size=15,
        ).localCheckpoint(eager=True)
        canon = segs.groupBy("seg_id").agg(
            F.min(F.col("y").cast("long") * 96 + F.col("x")).alias("segment_key")
        )
        return segment_shape_metrics(segs).join(canon, "seg_id").drop("seg_id")

    metrics = stage(spark, f"{root}/e3_metrics", _build_metrics)

    # E4: dual-model object classification on shape metrics
    def _build_objects() -> DataFrame:
        shape_cols = [
            "rectangularity", "elongation", "compactness", "shape_index",
            "vertex_density",
        ]
        obj_labeled = metrics.withColumn(
            "label",
            F.when(F.col("area") > 300, 1.0)
            .when(F.col("elongation") > 1.5, 2.0)
            .otherwise(3.0),
        )
        obj_train = obj_labeled.where(F.col("segment_key") % 2 == 0)
        main = train_rf(
            obj_train, ["area", "perimeter", *shape_cols], "label",
            num_trees=20, max_depth=8,
            feature_subset_strategy="all", bootstrap=False,
        )
        backup = train_rf(
            obj_train, shape_cols, "label",
            num_trees=20, max_depth=8,
            feature_subset_strategy="all", bootstrap=False,
        )
        probe = obj_labeled.drop("label").withColumn(
            "area",
            F.when(F.col("segment_key") % 3 == 0, F.lit(None).cast("long"))
            .otherwise(F.col("area"))
            .cast("double"),
        )
        out = dual_model_predict(probe, main, backup, ["area"])
        return out.select("segment_key", "geometry", "PredClass")

    objects = stage(spark, f"{root}/e4_objects", _build_objects)
    return objects.orderBy("segment_key")


# Labels: J (23×20, area 460 > 300) → 1; G (19×12, elong 19/12 ≈ 1.583
# > 1.5) and I (9×20, elong 20/9 ≈ 2.22) → 2; H (13×12) → 3.
@_q(
    "pipeline_full_chain",
    f"""
    WITH regions AS ({_CHAIN_REGION_SQL})
    SELECT CAST(y0 * 96 + x0 AS BIGINT) AS segment_key,
           'POLYGON((' || x0 || ' ' || y0 || ', ' || (x0 + w) || ' ' || y0
             || ', ' || (x0 + w) || ' ' || (y0 + h) || ', ' || x0 || ' '
             || (y0 + h) || ', ' || x0 || ' ' || y0 || '))' AS geometry,
           CAST(CASE WHEN w * h > 300 THEN 1
                     WHEN CAST(greatest(w, h) AS DOUBLE) / least(w, h) > 1.5
                       THEN 2
                     ELSE 3 END AS INTEGER) AS PredClass
    FROM regions ORDER BY segment_key
    """,
)
def q_full_chain(spark: SparkSession, sf_dir: str) -> DataFrame:
    return run_full_pipeline(spark, sf_dir)
