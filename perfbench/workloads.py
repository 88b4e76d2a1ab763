"""The benchmark's two workloads.

Each workload sets up its inputs, lists its ops and checks their
outputs outside the timed passes. An op is one registry query (query
function, then a noop write) or one stage of the land-use/land-cover
(LULC) pipeline (the stage's functions, then its sink write). Ops call
only the package's public functions; with a tracer attached, each
call is a ``<layer>.<function>`` span and its output is forced at the
span boundary.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import traceback

import duckdb
import pandas as pd

import datagen

# One registry workload holds two query groups, and each group is cut
# to a few queries: a run pays about 30 s of JVM start and cold first
# runs before it measures anything, and a pass must be short enough for
# a run of about a minute to measure three of them.
REGISTRY_QUERIES = [
    # The iterative tier (ROADMAP items 2 and 3): 10-50 jobs per query,
    # mostly eager per-round checkpoints inside the query function.
    "weisfeiler_leman_colors",
    # Short queries where per-query fixed cost (planning, codegen,
    # scheduling, state-store start-up) dominates: OLAP, text, streaming.
    "q3_shipping_priority",
    "pricing_summary",
    "tfidf_topk",
    "stream_dedup",
]


def dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs
    )


class Ctx:
    """What an op needs: the session, its directories, and the tracer
    (None in untraced runs)."""

    def __init__(self, spark, work: str, tracer=None):
        self.spark = spark
        self.work = work
        self.tracer = tracer
        self.out_dir = os.path.join(work, "pass")

    def out(self, name: str) -> str:
        return os.path.join(self.out_dir, name)

    def call(self, span: str, fn, *args, force: bool = False, **kw):
        """Call ``fn``; when traced, time it as a span and, with
        ``force``, materialize its DataFrame output inside the span."""
        if self.tracer is None:
            return fn(*args, **kw)
        with self.tracer.span(span):
            out = fn(*args, **kw)
            if force:
                out = out.localCheckpoint(eager=True)
        return out


class Registry:
    """Registry queries through a noop sink, over sf0.01 tables generated
    from the seed."""

    spans = ["plans.query_fn", "plans.final_action"]
    queries = REGISTRY_QUERIES
    sf = 0.01

    def setup(self, spark, work: str, seed: int) -> dict:
        from tb_scale_spatial_data_pipeline_spark.plans import all_oracles, all_queries

        self.data = os.path.join(work, "data")
        shutil.rmtree(self.data, ignore_errors=True)
        sizes = datagen.write_tables(self.data, self.sf, seed)
        # first fixture touch: footer reads and one full scan
        spark.read.parquet(os.path.join(self.data, "lineitem.parquet")).count()
        fns, self.oracles = all_queries(), all_oracles()
        self.fns = {q: fns[q] for q in self.queries}
        return {
            "rows": sum(s["rows"] for s in sizes.values()),
            "bytes": sum(s["bytes"] for s in sizes.values()),
        }

    def ops(self) -> list[tuple[str, object]]:
        def op(name):
            def run(ctx: Ctx) -> None:
                df = ctx.call("plans.query_fn", self.fns[name], ctx.spark, self.data)
                ctx.call(
                    "plans.final_action",
                    lambda: df.write.format("noop").mode("overwrite").save(),
                )

            return run

        return [(q, op(q)) for q in self.queries]

    def check(self, ctx: Ctx, order: list[str]) -> list[str]:
        """Run every query once and compare it with its DuckDB oracle;
        return the names that raised or differ."""
        from scripts.check_parity import compare
        from tb_scale_spatial_data_pipeline_spark.sources.catalog import TABLES

        con = duckdb.connect()
        for t in TABLES:
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM "
                f"'{os.path.join(self.data, t)}.parquet'"
            )
        bad = []
        for q in order:
            try:
                got = self.fns[q](ctx.spark, self.data).toPandas()
                issues = compare(q, got, con.execute(self.oracles[q]).df())
            except Exception:
                issues = [traceback.format_exc(limit=3)]
            if issues:
                bad.append(f"{q}: {issues[0]}")
        con.close()
        return bad


# LULC pipeline geometry: a 6-scene x 2-band raster cut into 64-px
# tiles with a 4-px halo (>= 3 sigma of the smoothing kernel).
RASTER, SCENES, TILE, HALO = 128, 6, 64, 4
SHAPE_COLS = ["rectangularity", "elongation", "compactness", "shape_index", "vertex_density"]
# The labels are threshold rules on the features, which 5 levels learn
# exactly; deeper or larger forests predict the same classes, with more
# jobs per fit.
RF = {"num_trees": 10, "max_depth": 5, "feature_subset_strategy": "all", "bootstrap": False}

# Digests of the pipeline outputs, pinned per input raster. The raster
# depends on the seed only through seed % 5 (raster.tiles.synthetic_raster).
PINNED = {
    0: ("012fc4b72647630e", 93, {"1": 8, "2": 46, "3": 39}),
    1: ("4a3a1aa2ce03a463", 82, {"1": 13, "2": 33, "3": 36}),
    2: ("b5524fc0ad8a3988", 76, {"1": 17, "2": 22, "3": 37}),
    3: ("2988ea5234d5f66d", 78, {"1": 16, "2": 18, "3": 44}),
    4: ("0a2245642e7c49e7", 79, {"1": 16, "2": 27, "3": 36}),
}


class Lulc:
    """The paper's E1-E4 pipeline on a raster generated from the seed,
    each stage writing its product through a sink."""

    spans = [
        "operators.grouped_median",
        "operators.argmax_composite",
        "ml.train_rf",
        "ml.predict",
        "raster.halo_duplicate",
        "raster.gaussian_smooth_tiles",
        "raster.segment_tiles",
        "raster.segment_shape_metrics",
        "ml.dual_model_predict",
        "sources.read_parquet",
        "sources.write_tiled",
        "sources.write_vector",
    ]

    def setup(self, spark, work: str, seed: int) -> dict:
        from pyspark.sql import functions as F

        from tb_scale_spatial_data_pipeline_spark.raster.tiles import synthetic_raster

        self.seed = seed
        self.scenes = os.path.join(work, "scenes")
        base = synthetic_raster(spark, RASTER, RASTER, bands=2, seed=seed)
        frames = [
            base.select(
                "x",
                "y",
                F.lit(s).alias("scene"),
                (F.col("b1") + s * 3.0).alias("red"),
                # deterministic per-scene cloud mask -> nodata sentinel
                F.when((F.col("x") + F.col("y") + s) % 7 == 0, F.lit(-9999.0))
                .otherwise(F.col("b2") + s * 5.0)
                .alias("nir"),
            )
            for s in range(1, SCENES + 1)
        ]
        scenes = frames[0]
        for f in frames[1:]:
            scenes = scenes.unionByName(f)
        scenes.write.mode("overwrite").parquet(self.scenes)
        rows = spark.read.parquet(self.scenes).count()
        return {"rows": rows, "bytes": dir_bytes(self.scenes)}

    def ops(self) -> list[tuple[str, object]]:
        return [
            ("e1_composite", self.e1),
            ("e2_pixel_classes", self.e2),
            ("e3_segments", self.e3),
            ("e4_objects", self.e4),
        ]

    def e1(self, ctx: Ctx) -> None:
        from pyspark.sql import functions as F

        from tb_scale_spatial_data_pipeline_spark.functions.indices import ndvi, ndwi
        from tb_scale_spatial_data_pipeline_spark.functions.sentinels import sentinel_to_null
        from tb_scale_spatial_data_pipeline_spark.operators.composites import (
            argmax_composite,
            grouped_median,
        )
        from tb_scale_spatial_data_pipeline_spark.raster.tiles import assign_tiles
        from tb_scale_spatial_data_pipeline_spark.sources.sinks import write_tiled

        def read_scenes():
            # the functions layer's column expressions are plan building;
            # they are timed with the scan they are inlined into
            px = ctx.spark.read.parquet(self.scenes).select(
                "x",
                "y",
                "scene",
                sentinel_to_null(F.col("red")).alias("red"),
                sentinel_to_null(F.col("nir")).alias("nir"),
            )
            return px.withColumn("ndvi", ndvi(F.col("nir"), F.col("red")))

        px = ctx.call("sources.read_parquet", read_scenes)
        med = ctx.call(
            "operators.grouped_median",
            grouped_median,
            px,
            ["x", "y"],
            "ndvi",
            out_col="median_ndvi",
            force=True,
        )
        win = ctx.call(
            "operators.argmax_composite",
            argmax_composite,
            px,
            ["x", "y"],
            "ndvi",
            ["red", "nir"],
            force=True,
        )

        def write_stack():
            stack = med.join(win, ["x", "y"], "left").withColumn(
                "winter_ndwi", ndwi(F.col("red"), F.col("nir"))
            )
            write_tiled(assign_tiles(stack, TILE), ctx.out("stack"))

        ctx.call("sources.write_tiled", write_stack)

    def e2(self, ctx: Ctx) -> None:
        from pyspark.sql import functions as F

        from tb_scale_spatial_data_pipeline_spark.ml.classify import predict, train_rf
        from tb_scale_spatial_data_pipeline_spark.operators.relabel import solar_shadow_rules
        from tb_scale_spatial_data_pipeline_spark.sources.sinks import write_tiled

        def read_stack():
            # column expressions are timed with the scan or sink they are
            # inlined into, as in e1, so the op's spans cover its wall time
            stack = ctx.spark.read.parquet(ctx.out("stack"))
            # labels: a fixed rule on the composites (solar 12, shadow 16, urban 2)
            label = (
                F.when(F.col("max_ndvi") > 0.25, 12.0)
                .when(F.col("median_ndvi") < 0.0, 16.0)
                .otherwise(2.0)
            )
            train = stack.withColumn("label", label).where((F.col("x") + F.col("y")) % 3 == 0)
            return stack, train

        stack, train = ctx.call("sources.read_parquet", read_stack)
        feats = ["median_ndvi", "max_ndvi", "winter_ndwi"]
        model = ctx.call("ml.train_rf", train_rf, train, feats, "label", **RF)
        scored = ctx.call("ml.predict", predict, model, stack, out_col="pred", force=True)

        def write_classes():
            rule = solar_shadow_rules(F.col("pred"), F.col("pred_conf"))
            classes = scored.select("x", "y", "tile_x", "tile_y", rule.cast("int").alias("label"))
            write_tiled(classes, ctx.out("classes"))

        ctx.call("sources.write_tiled", write_classes)

    def e3(self, ctx: Ctx) -> None:
        from tb_scale_spatial_data_pipeline_spark.raster.kernels import gaussian_smooth_tiles
        from tb_scale_spatial_data_pipeline_spark.raster.segmentation import (
            segment_shape_metrics,
            segment_tiles,
        )
        from tb_scale_spatial_data_pipeline_spark.raster.tiles import halo_duplicate
        from tb_scale_spatial_data_pipeline_spark.sources.sinks import write_vector

        stack = ctx.call(
            "sources.read_parquet",
            lambda: ctx.spark.read.parquet(ctx.out("stack")).select("x", "y", "red", "nir"),
        )
        bands = ["red", "nir"]
        tiled = ctx.call(
            "raster.halo_duplicate", halo_duplicate, stack, TILE, HALO, force=True
        )
        smooth = ctx.call(
            "raster.gaussian_smooth_tiles",
            gaussian_smooth_tiles,
            tiled,
            bands,
            sigma=0.5,
            force=True,
        )
        tiled = ctx.call(
            "raster.halo_duplicate", halo_duplicate, smooth, TILE, HALO, force=True
        )
        segs = ctx.call("raster.segment_tiles", segment_tiles, tiled, bands, force=True)
        metrics = ctx.call(
            "raster.segment_shape_metrics", segment_shape_metrics, segs, force=True
        )
        ctx.call("sources.write_vector", write_vector, metrics, ctx.out("segments"))

    def e4(self, ctx: Ctx) -> None:
        from pyspark.sql import functions as F

        from tb_scale_spatial_data_pipeline_spark.ml.classify import (
            dual_model_predict,
            train_rf,
        )
        from tb_scale_spatial_data_pipeline_spark.sources.sinks import write_vector

        def read_segments():
            segs = ctx.spark.read.parquet(ctx.out("segments"))
            label = (
                F.when(F.col("area") > 400, 1.0)
                .when(F.col("elongation") > 1.5, 2.0)
                .otherwise(3.0)
            )
            train = segs.withColumn("label", label).where(F.col("seg_id") % 2 == 0)
            # every third segment loses `area` and must take the backup model
            probe = segs.withColumn(
                "area",
                F.when(F.col("seg_id") % 3 == 0, F.lit(None))
                .otherwise(F.col("area"))
                .cast("double"),
            )
            return train, probe

        train, probe = ctx.call("sources.read_parquet", read_segments)
        main = ctx.call(
            "ml.train_rf", train_rf, train, ["area", "perimeter", *SHAPE_COLS], "label", **RF
        )
        backup = ctx.call("ml.train_rf", train_rf, train, SHAPE_COLS, "label", **RF)
        objects = ctx.call(
            "ml.dual_model_predict",
            dual_model_predict,
            probe,
            main,
            backup,
            ["area"],
            force=True,
        )
        ctx.call(
            "sources.write_vector",
            lambda: write_vector(
                objects.select("seg_id", "geometry", "PredClass"), ctx.out("objects")
            ),
        )

    def halo_dup_ratio(self, spark) -> float:
        """Rows out of ``halo_duplicate`` per core pixel: the halo's
        wasted work."""
        from tb_scale_spatial_data_pipeline_spark.raster.tiles import halo_duplicate

        core = spark.read.parquet(self.scenes).where("scene = 1").select("x", "y")
        return halo_duplicate(core, TILE, HALO).count() / core.count()

    def digest(self, spark, out_dir: str) -> dict:
        """Segment count, object classes and an order-insensitive hash
        of the class map."""
        classes = spark.read.parquet(os.path.join(out_dir, "classes")).select(
            "x", "y", "label"
        ).toPandas()
        row_hash = pd.util.hash_pandas_object(
            classes.astype("int64"), index=False
        ).to_numpy()
        objects = spark.read.parquet(os.path.join(out_dir, "objects")).toPandas()
        return {
            "pixels": len(classes),
            "classmap": hashlib.sha1(
                int(row_hash.sum(dtype="uint64")).to_bytes(8, "little")
            ).hexdigest()[:16],
            "segments": int(spark.read.parquet(os.path.join(out_dir, "segments")).count()),
            "object_classes": {
                str(k): int(v) for k, v in sorted(objects["PredClass"].value_counts().items())
            },
        }

    def check(self, ctx: Ctx, order: list[str]) -> list[str]:
        """Run the pipeline once and compare its digest with the pinned one."""
        bad = []
        ops = dict(self.ops())
        for name in order:
            try:
                ops[name](ctx)
            except Exception:
                bad.append(f"{name}: {traceback.format_exc(limit=3)}")
        if bad:
            return bad
        got = self.digest(ctx.spark, ctx.out_dir)
        classmap, segments, object_classes = PINNED[self.seed % 5]
        want = {
            "pixels": RASTER * RASTER,
            "classmap": classmap,
            "segments": segments,
            "object_classes": object_classes,
        }
        if got != want:
            # a wrong digest fails the stages whose products it covers
            bad = [f"{n}: digest {got} != pinned {want}" for n in order if n != "e1_composite"]
        return bad
