"""Tile tables and halo exchange (SURVEY §2.6 R5, §1.1).

The reference decomposes rasters into windows/tiles as its unit of
work (`2_segmentation/image_segmentation.py:115-134`: 4096 px tiles
with a 256 px halo read, core crop after compute). In Spark the tile
id is the shuffle key: ``halo_duplicate`` emits each pixel row into
its own tile plus any neighbor tile whose halo region covers it, then
``groupBy(tile).applyInPandas(kernel)`` gives every kernel a complete
(core + halo) neighborhood without any cross-task communication —
the standard ghost-cell pattern for distributed stencils.

At 100 TB the halo duplication factor is (T+2h)²/T² (≈ 1.13 for
T=4096, h=256) — bounded, and far cheaper than the alternative
(a second shuffle to fetch neighbor strips).

The tile runner owns the rest of that policy in one place:
``tile_map`` runs the single tile ``groupBy``, pivots each group to a
dense array (``pivot_tile``), calls the kernel on it and crops the
result to the ``is_core`` ghost-cell core, so every output pixel is
produced exactly once. ``tile_apply`` is the same runner without the
crop, for kernels whose output is not the source grid (the warp).
"""

from __future__ import annotations

from collections.abc import Callable

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def synthetic_raster(
    spark: SparkSession, width: int = 256, height: int = 256, bands: int = 3, seed: int = 42
) -> DataFrame:
    """Deterministic long-format pixel table (x, y, b1..bn double).

    Values are smooth trig fields plus disk-shaped "objects" — enough
    structure for segmentation/smoothing kernels to act on, generated
    entirely JVM-side (no driver loop, no RNG: fully reproducible and
    parallel via spark.range partitioning).
    """
    px = spark.range(width * height).select(
        (F.col("id") % width).cast("int").alias("x"),
        (F.col("id") / width).cast("int").alias("y"),
    )
    xs = F.col("x").cast("double")
    ys = F.col("y").cast("double")
    cols = [F.col("x"), F.col("y")]
    for b in range(1, bands + 1):
        base = (
            F.sin(xs / (7.0 + b + seed % 5)) * 40.0
            + F.cos(ys / (11.0 + b)) * 40.0
            + 100.0
        )
        # deterministic disks: centers on a 64-px lattice offset by band
        cx = (F.floor(xs / 64) * 64 + 32 + b * 3).cast("double")
        cy = (F.floor(ys / 64) * 64 + 32 - b * 2).cast("double")
        dist2 = (xs - cx) * (xs - cx) + (ys - cy) * (ys - cy)
        val = F.when(dist2 < F.lit(400.0), base + 80.0).otherwise(base)
        cols.append(val.alias(f"b{b}"))
    return px.select(*cols)


def assign_tiles(df: DataFrame, tile_size: int) -> DataFrame:
    """Add (tile_x, tile_y) partition keys from pixel coordinates."""
    return df.withColumn(
        "tile_x", F.floor(F.col("x") / tile_size).cast("int")
    ).withColumn("tile_y", F.floor(F.col("y") / tile_size).cast("int"))


def halo_duplicate(df: DataFrame, tile_size: int, halo: int) -> DataFrame:
    """Ghost-cell duplication: emit each pixel into every tile whose
    halo-extended window contains it (its own tile plus up to 3
    neighbors for halo < tile_size). Output adds (tile_x, tile_y,
    is_core); kernels crop to ``is_core`` after computing.

    Implemented as a static 3×3 neighbor-offset explode + range filter
    — a narrow flatMap before the single groupBy shuffle.
    """
    if not 0 <= halo < tile_size:
        raise ValueError("require 0 <= halo < tile_size")
    offsets = F.array(
        *[
            F.struct(F.lit(dx).alias("dx"), F.lit(dy).alias("dy"))
            for dx in (-1, 0, 1)
            for dy in (-1, 0, 1)
        ]
    )
    e = df.withColumn("_o", F.explode(offsets))
    tx = (F.floor(F.col("x") / tile_size) + F.col("_o.dx")).cast("int")
    ty = (F.floor(F.col("y") / tile_size) + F.col("_o.dy")).cast("int")
    e = e.withColumn("tile_x", tx).withColumn("tile_y", ty).drop("_o")
    in_halo_window = (
        (F.col("x") >= F.col("tile_x") * tile_size - halo)
        & (F.col("x") < (F.col("tile_x") + 1) * tile_size + halo)
        & (F.col("y") >= F.col("tile_y") * tile_size - halo)
        & (F.col("y") < (F.col("tile_y") + 1) * tile_size + halo)
        & (F.col("tile_x") >= 0)
        & (F.col("tile_y") >= 0)
    )
    e = e.where(in_halo_window)
    is_core = (
        (F.col("x") >= F.col("tile_x") * tile_size)
        & (F.col("x") < (F.col("tile_x") + 1) * tile_size)
        & (F.col("y") >= F.col("tile_y") * tile_size)
        & (F.col("y") < (F.col("tile_y") + 1) * tile_size)
    )
    return e.withColumn("is_core", is_core)


def pivot_tile(pdf: pd.DataFrame, value_cols: list[str], fill: float = np.nan):
    """Pivot long-format pixel rows (x, y, *value_cols) to a dense
    float64 (H, W, C) stack over their bounding box; cells with no row
    hold ``fill``. Returns (stack, x0, y0)."""
    x0, y0 = int(pdf["x"].min()), int(pdf["y"].min())
    w = int(pdf["x"].max()) - x0 + 1
    h = int(pdf["y"].max()) - y0 + 1
    stack = np.full((h, w, len(value_cols)), fill, dtype=np.float64)
    xi = pdf["x"].to_numpy() - x0
    yi = pdf["y"].to_numpy() - y0
    for c, col in enumerate(value_cols):
        stack[yi, xi, c] = pdf[col].to_numpy(dtype=np.float64)
    return stack, x0, y0


def tile_apply(
    tiled: DataFrame,
    value_cols: list[str],
    out_schema: str,
    fn: Callable[..., dict[str, np.ndarray]],
) -> DataFrame:
    """Run ``fn(stack, tile_key, x0, y0, core)`` once per tile of a
    ``halo_duplicate`` table: one ``groupBy(tile).applyInPandas``.
    ``stack`` is the NaN-filled :func:`pivot_tile` of ``value_cols``
    over the core + halo window, ``core`` the (H, W) ``is_core`` mask
    and ``tile_key`` the ``(tile_x, tile_y)`` pair. ``fn`` returns
    equal-length 1-D columns named as in ``out_schema``. A halo-only
    group (a border tile past the raster edge) owns no pixel: it emits
    nothing and ``fn`` is not called."""

    def kernel(key, pdf):
        is_core = pdf["is_core"].to_numpy()
        if not is_core.any():
            return pd.DataFrame()
        stack, x0, y0 = pivot_tile(pdf, value_cols)
        core = np.zeros(stack.shape[:2], dtype=bool)
        core[pdf["y"].to_numpy() - y0, pdf["x"].to_numpy() - x0] = is_core
        tile_key = (int(key[0]), int(key[1]))
        return pd.DataFrame(fn(stack, tile_key, x0, y0, core))

    return tiled.groupBy("tile_x", "tile_y").applyInPandas(kernel, schema=out_schema)


def tile_map(
    tiled: DataFrame,
    value_cols: list[str],
    out_schema: str,
    fn: Callable[[np.ndarray, tuple[int, int]], dict[str, np.ndarray]],
) -> DataFrame:
    """The tile runner for kernels that compute on the source grid:
    ``fn(stack, tile_key)`` gets the dense (H, W, C) core + halo window
    and returns named (H, W) arrays; the output is ``x, y`` plus those
    arrays at the core pixels only, in row-major order — the ghost-cell
    crop that makes each pixel's value come from exactly one tile."""

    def crop(stack, tile_key, x0, y0, core):
        planes = fn(stack, tile_key)
        ys, xs = np.nonzero(core)
        return {"x": xs + x0, "y": ys + y0, **{k: v[ys, xs] for k, v in planes.items()}}

    return tile_apply(tiled, value_cols, out_schema, crop)
