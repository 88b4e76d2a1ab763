"""Property tests for the tile/halo/kernel layer (FIXTURES.md §5):
halo invariance (kernel outputs on the core must not change with the
tile grid), determinism, and shape-metric ground truths."""

from __future__ import annotations

import numpy as np
import pyspark.sql.functions as F
import pytest

from tb_scale_spatial_data_pipeline_spark.raster.kernels import (
    gaussian_smooth_tiles,
    pca_texture_tiles,
    reproject_tiles,
    warp_affine_tiles,
)
from tb_scale_spatial_data_pipeline_spark.raster.segmentation import (
    _felzenszwalb,
    segment_shape_metrics,
    segment_tiles,
)
from tb_scale_spatial_data_pipeline_spark.raster.tiles import (
    halo_duplicate,
    synthetic_raster,
)


def _to_map(df, cols):
    return {
        (r["x"], r["y"]): tuple(r[c] for c in cols) for r in df.collect()
    }


@pytest.fixture(scope="module")
def raster(spark):
    return synthetic_raster(spark, width=96, height=96, bands=2).cache()


def test_halo_duplicate_core_partition(spark, raster):
    tiled = halo_duplicate(raster, tile_size=32, halo=4)
    # every pixel is core in exactly one tile
    core_counts = (
        tiled.where("is_core").groupBy("x", "y").count().where("count != 1").count()
    )
    assert core_counts == 0
    # halo copies exist for pixels near tile borders
    assert tiled.count() > raster.count()


def test_tile_map_emits_each_core_pixel_once_and_skips_halo_only_groups(spark):
    """46 px is not a multiple of the 16 px tile, so halo_duplicate
    makes halo-only groups past the raster edge (tile index 3). The
    runner must emit every raster pixel exactly once, from its core
    tile, and never call the kernel on a halo-only group."""
    from tb_scale_spatial_data_pipeline_spark.raster.tiles import tile_map

    img = synthetic_raster(spark, 46, 46, bands=1)
    tiled = halo_duplicate(img, 16, 4)
    halo_only = tiled.where("tile_x = 3 or tile_y = 3")
    assert halo_only.count() > 0
    assert halo_only.where("is_core").count() == 0

    def ident(stack, tile_key):
        if 3 in tile_key:
            raise ValueError(f"kernel called on halo-only tile {tile_key}")
        return {"v": stack[:, :, 0], "tx": np.full(stack.shape[:2], tile_key[0])}

    out = tile_map(tiled, ["b1"], "x int, y int, v double, tx int", ident).toPandas()
    assert len(out) == 46 * 46
    assert not out.duplicated(["x", "y"]).any()
    assert (out["tx"] == out["x"] // 16).all()
    src = _to_map(img, ["b1"])
    assert {(r.x, r.y): (r.v,) for r in out.itertuples()} == src


def test_gaussian_halo_invariance(spark, raster):
    # smoothing must be invariant to the tile grid (halo >= 3*sigma)
    a = gaussian_smooth_tiles(halo_duplicate(raster, 32, 4), ["b1", "b2"], sigma=0.5)
    b = gaussian_smooth_tiles(halo_duplicate(raster, 48, 4), ["b1", "b2"], sigma=0.5)
    ma, mb = _to_map(a, ["b1", "b2"]), _to_map(b, ["b1", "b2"])
    assert ma.keys() == mb.keys()
    diffs = [abs(ma[k][0] - mb[k][0]) + abs(ma[k][1] - mb[k][1]) for k in ma]
    assert max(diffs) < 1e-9


def test_gaussian_constant_field(spark):
    flat = (
        spark.range(32 * 32)
        .select(
            (F.col("id") % 32).cast("int").alias("x"),
            (F.col("id") / 32).cast("int").alias("y"),
            F.lit(7.0).alias("b1"),
        )
    )
    out = gaussian_smooth_tiles(halo_duplicate(flat, 16, 4), ["b1"], sigma=0.5)
    vals = [r["b1"] for r in out.collect()]
    assert max(abs(v - 7.0) for v in vals) < 1e-12


def test_pca_texture_deterministic(spark, raster):
    tiled = halo_duplicate(raster, 48, 0)
    a = _to_map(pca_texture_tiles(tiled, ["b1", "b2"]), ["texture"])
    b = _to_map(pca_texture_tiles(tiled, ["b1", "b2"]), ["texture"])
    assert a == b
    assert len(a) == 96 * 96


def test_reproject_nearest_identity(spark, raster):
    # scale=1 nearest reprojection is the identity
    tiled = halo_duplicate(raster, 32, 2)
    out = reproject_tiles(tiled, ["b1"], scale=1.0, method="nearest")
    src = _to_map(raster.select("x", "y", "b1"), ["b1"])
    dst = _to_map(out, ["b1"])
    assert dst == src


def test_reproject_downscale_shape(spark, raster):
    tiled = halo_duplicate(raster, 32, 2)
    out = reproject_tiles(tiled, ["b1"], scale=2.0, method="bilinear")
    pts = {(r["x"], r["y"]) for r in out.collect()}
    assert (0, 0) in pts
    assert max(p[0] for p in pts) <= 48
    assert len(pts) >= 47 * 47


def test_warp_affine_identity(spark, raster):
    # identity affine + nearest == the source raster, exactly
    tiled = halo_duplicate(raster, 32, 2)
    out = warp_affine_tiles(
        tiled, ["b1"], affine=(1.0, 0.0, 0.0, 0.0, 1.0, 0.0), method="nearest"
    )
    assert _to_map(out, ["b1"]) == _to_map(raster.select("x", "y", "b1"), ["b1"])


def test_warp_affine_rotation_90(spark):
    """target->source affine (0,-1,0, 1,0,0): sx=-ty, sy=tx — a 90°
    rotation. Every rotated target pixel must carry its source value."""
    img = synthetic_raster(spark, 48, 48, bands=1)
    tiled = halo_duplicate(img, 24, 2)
    out = warp_affine_tiles(
        tiled, ["b1"], affine=(0.0, -1.0, 0.0, 1.0, 0.0, 0.0), method="nearest"
    )
    src = _to_map(img.select("x", "y", "b1"), ["b1"])
    dst = _to_map(out, ["b1"])
    # (tx, ty) samples source (-ty, tx): enumerate from the source side
    expect = {(sy, -sx): v for (sx, sy), v in src.items()}
    assert dst == expect


def test_warp_affine_translation_bilinear_exact_on_ramp(spark):
    """bilinear interpolation reproduces a linear ramp exactly at
    fractional offsets (the canonical warp correctness identity)."""
    from pyspark.sql import functions as SF

    base = synthetic_raster(spark, 40, 40, bands=1).select(
        "x", "y", (2.0 * SF.col("x") + 3.0 * SF.col("y") + 1.0).alias("b1")
    )
    tiled = halo_duplicate(base, 20, 3)
    out = warp_affine_tiles(
        tiled, ["b1"], affine=(1.0, 0.0, 0.5, 0.0, 1.0, 0.25), method="bilinear"
    )
    for r in out.collect():
        sx, sy = r["x"] + 0.5, r["y"] + 0.25
        if 0 <= sx <= 39 and 0 <= sy <= 39:
            assert abs(r["b1"] - (2.0 * sx + 3.0 * sy + 1.0)) < 1e-9


def test_warp_affine_upsampling_covers_every_target(spark):
    """Upsampling maps (each source pixel spans ~4 and ~10 target pixels
    across) must still emit every target pixel whose sample lies in the
    raster: a tile's target bound has to cover the whole source pixel
    beyond its core edge, whatever the scale, not a fixed pad of target
    pixels around the image of the core corners."""
    base = synthetic_raster(spark, 26, 22, bands=1)
    for aff in [(0.25, 0.1, 0.0, -0.1, 0.25, 3.0), (0.1, 0.04, 0.0, -0.04, 0.1, 3.0)]:
        a, b, c, d, e, f = aff
        out = warp_affine_tiles(halo_duplicate(base, 8, 3), ["b1"], aff, "bilinear")
        got = {(r["x"], r["y"]) for r in out.collect()}
        TX, TY = np.meshgrid(np.arange(-400, 400), np.arange(-400, 400))
        tx, ty = TX.ravel().astype(float), TY.ravel().astype(float)
        sx, sy = a * tx + b * ty + c, d * tx + e * ty + f
        inside = (sx >= 0) & (sx <= 25) & (sy >= 0) & (sy <= 21)
        want = set(zip(TX.ravel()[inside].tolist(), TY.ravel()[inside].tolist()))
        assert got == want, (aff, len(want - got), len(got - want))


def test_warp_affine_tile_origin_invariance(spark):
    """The warped raster must be identical under different tile grids —
    the exactly-once ownership rule is partitioning-independent."""
    img = synthetic_raster(spark, 48, 48, bands=1)
    aff = (0.8, 0.2, 1.0, -0.2, 0.8, 2.0)  # rotation + scale + shear
    a = warp_affine_tiles(halo_duplicate(img, 24, 4), ["b1"], aff, "bilinear")
    b = warp_affine_tiles(halo_duplicate(img, 16, 4), ["b1"], aff, "bilinear")
    ma, mb = _to_map(a, ["b1"]), _to_map(b, ["b1"])
    assert set(ma) == set(mb)
    for k in ma:
        assert abs(ma[k][0] - mb[k][0]) < 1e-9, k


def test_warp_grid_affine_special_case_bit_equals_affine_path(spark):
    """warp_grid_tiles with an affine homography must reproduce
    warp_affine_tiles bit-for-bit — the curved-grid path degrades to
    the affine path exactly when the transform is affine."""
    from tb_scale_spatial_data_pipeline_spark.raster.kernels import (
        projective_transform,
        warp_grid_tiles,
    )

    img = synthetic_raster(spark, 48, 48, bands=1)
    a, b, c, d, e, f = (0.9, 0.15, 2.0, -0.15, 0.9, 1.0)
    t2s, s2t = projective_transform(((a, b, c), (d, e, f), (0.0, 0.0, 1.0)))
    via_affine = warp_affine_tiles(
        halo_duplicate(img, 24, 4), ["b1"], (a, b, c, d, e, f), "bilinear"
    )
    via_grid = warp_grid_tiles(
        halo_duplicate(img, 24, 4), ["b1"], t2s, s2t, method="bilinear"
    )
    ma, mg = _to_map(via_affine, ["b1"]), _to_map(via_grid, ["b1"])
    assert set(ma) == set(mg)
    for k in ma:
        assert ma[k] == mg[k], k


def test_warp_grid_projective_exact_on_ramp(spark):
    """A genuinely non-affine (projective) warp with bilinear sampling
    reproduces a linear ramp exactly: interpolation is exact on linear
    fields no matter where the curved map places the sample points."""
    from pyspark.sql import functions as SF

    from tb_scale_spatial_data_pipeline_spark.raster.kernels import (
        projective_transform,
        warp_grid_tiles,
    )

    base = synthetic_raster(spark, 40, 40, bands=1).select(
        "x", "y", (2.0 * SF.col("x") + 3.0 * SF.col("y") + 1.0).alias("b1")
    )
    H = ((0.95, 0.08, 1.5), (-0.06, 0.97, 0.8), (4e-4, -3e-4, 1.0))
    t2s, s2t = projective_transform(H)
    out = warp_grid_tiles(
        halo_duplicate(base, 20, 4), ["b1"], t2s, s2t, method="bilinear"
    )
    rows = out.collect()
    assert rows
    for r in rows:
        sx, sy = t2s(np.array([float(r["x"])]), np.array([float(r["y"])]))
        sx, sy = float(sx[0]), float(sy[0])
        if 0 <= sx <= 39 and 0 <= sy <= 39:
            assert abs(r["b1"] - (2.0 * sx + 3.0 * sy + 1.0)) < 1e-9


def test_warp_grid_roundtrip_error_bound(spark):
    """Warp a smooth field through a projective map and back through
    its inverse: values must return to the original within the
    two-pass bilinear interpolation error bound."""
    from pyspark.sql import functions as SF

    from tb_scale_spatial_data_pipeline_spark.raster.kernels import (
        projective_transform,
        warp_grid_tiles,
    )

    base = synthetic_raster(spark, 48, 48, bands=1).select(
        "x", "y", (SF.sin(SF.col("x") / 8.0) * SF.cos(SF.col("y") / 8.0)).alias("b1")
    )
    H = ((0.97, 0.05, 1.0), (-0.04, 0.98, 0.5), (3e-4, -2e-4, 1.0))
    t2s, s2t = projective_transform(H)
    fwd = warp_grid_tiles(
        halo_duplicate(base, 24, 4), ["b1"], t2s, s2t, method="bilinear"
    )
    back = warp_grid_tiles(
        halo_duplicate(fwd.where("x >= 0 and y >= 0"), 24, 4),
        ["b1"],
        s2t,  # inverse warp: swap the directions
        t2s,
        method="bilinear",
    )
    orig = _to_map(base, ["b1"])
    rt = _to_map(back, ["b1"])
    # compare interior pixels that survived both warps
    compared = 0
    for (x, y), v in rt.items():
        if (x, y) in orig and 8 <= x < 40 and 8 <= y < 40:
            assert abs(v[0] - orig[(x, y)][0]) < 0.01, (x, y)
            compared += 1
    assert compared > 400


def test_warp_grid_tile_origin_invariance(spark):
    """Curved-grid warp output must not depend on the tile grid."""
    from tb_scale_spatial_data_pipeline_spark.raster.kernels import (
        projective_transform,
        warp_grid_tiles,
    )

    img = synthetic_raster(spark, 48, 48, bands=1)
    t2s, s2t = projective_transform(
        ((0.95, 0.08, 1.5), (-0.06, 0.97, 0.8), (4e-4, -3e-4, 1.0))
    )
    a = warp_grid_tiles(halo_duplicate(img, 24, 4), ["b1"], t2s, s2t, "bilinear")
    b = warp_grid_tiles(halo_duplicate(img, 16, 4), ["b1"], t2s, s2t, "bilinear")
    ma, mb = _to_map(a, ["b1"]), _to_map(b, ["b1"])
    assert set(ma) == set(mb)
    for k in ma:
        assert abs(ma[k][0] - mb[k][0]) < 1e-9, k


def test_felzenszwalb_uniform_image_single_segment():
    img = np.zeros((20, 20, 1))
    labels = _felzenszwalb(img, scale=35.0, min_size=15)
    assert len(np.unique(labels)) == 1


def test_felzenszwalb_two_regions():
    img = np.zeros((20, 20, 1))
    img[:, 10:, 0] = 1000.0
    labels = _felzenszwalb(img, scale=35.0, min_size=15)
    assert len(np.unique(labels)) == 2
    assert len(np.unique(labels[:, :10])) == 1
    assert len(np.unique(labels[:, 10:])) == 1


def test_segment_tiles_cover_and_determinism(spark, raster):
    tiled = halo_duplicate(raster, 48, 8)
    segs = segment_tiles(tiled, ["b1", "b2"]).cache()
    assert segs.count() == 96 * 96
    # deterministic across runs
    a = _to_map(segs, ["seg_id"])
    b = _to_map(segment_tiles(tiled, ["b1", "b2"]), ["seg_id"])
    assert a == b


def test_segment_tiles_nan_and_missing_pixels_segment_as_zero(spark):
    """NaN values, +inf and pixels missing from a tile window enter the
    segmentation exactly as a zero-filled pivot with per-column
    nan_to_num: the seg_ids equal that reference, tile by tile."""
    img = synthetic_raster(spark, 40, 40, bands=2)
    img = img.where("(x + 2 * y) % 13 != 0").select(
        "x",
        "y",
        F.when((F.col("x") * 7 + F.col("y") * 3) % 11 == 0, F.lit(float("nan")))
        .otherwise(F.col("b1"))
        .alias("b1"),
        F.when((F.col("x") == 5) & (F.col("y") == 9), F.lit(float("inf")))
        .otherwise(F.col("b2"))
        .alias("b2"),
    )
    tiled = halo_duplicate(img, 16, 4)
    got = _to_map(segment_tiles(tiled, ["b1", "b2"]), ["seg_id"])

    want = {}
    for (tx, ty), pdf in tiled.toPandas().groupby(["tile_x", "tile_y"]):
        x0, y0 = int(pdf["x"].min()), int(pdf["y"].min())
        w = int(pdf["x"].max()) - x0 + 1
        h = int(pdf["y"].max()) - y0 + 1
        stack = np.zeros((h, w, 2))
        xi, yi = pdf["x"].to_numpy() - x0, pdf["y"].to_numpy() - y0
        for c, col in enumerate(["b1", "b2"]):
            stack[yi, xi, c] = np.nan_to_num(pdf[col].to_numpy(), nan=0.0)
        with np.errstate(over="ignore"):  # the +inf pixel's edge weights
            labels = _felzenszwalb(stack, 35.0, 15)
        for x, y, core in zip(xi, yi, pdf["is_core"]):
            if core:
                local = int(labels[y, x])
                want[(x + x0, y + y0)] = ((int(ty) * 1_000_000 + int(tx)) * 10_000_000 + local,)
    assert len(want) == img.count()
    assert got == want


def test_shape_metrics_rectangle(spark):
    rows = [(int(x), int(y), 1) for x in range(4) for y in range(6)]
    df = spark.createDataFrame(rows, "x int, y int, seg_id long")
    m = segment_shape_metrics(df).collect()[0]
    assert m["area"] == 24
    assert m["perimeter"] == 2 * (4 + 6)
    assert m["rectangularity"] == 1.0
    assert m["elongation"] == 1.5
    assert m["num_vertices"] == 4
    assert m["geometry"] == "POLYGON((0 0, 4 0, 4 6, 0 6, 0 0))"


def test_reproject_cubic_identity_on_linear_field(spark):
    # cubic convolution reproduces values exactly on a linear ramp
    import pyspark.sql.functions as F

    ramp = (
        spark.range(40 * 40)
        .select(
            (F.col("id") % 40).cast("int").alias("x"),
            (F.col("id") / 40).cast("int").alias("y"),
        )
        .withColumn("b1", (2.0 * F.col("x") + 3.0 * F.col("y")).cast("double"))
    )
    tiled = halo_duplicate(ramp, tile_size=20, halo=4)
    out = reproject_tiles(tiled, ["b1"], scale=2.0, offset_x=0.5, offset_y=0.5, method="cubic")
    for r in out.collect():
        expected = 2.0 * (r["x"] * 2.0 + 0.5) + 3.0 * (r["y"] * 2.0 + 0.5)
        # interior points must be near-exact (boundary clamps excluded)
        if 1 <= r["x"] <= 17 and 1 <= r["y"] <= 17:
            assert abs(r["b1"] - expected) < 1e-9, (r["x"], r["y"], r["b1"], expected)


def test_trace_boundary_rectangle():
    from tb_scale_spatial_data_pipeline_spark.raster.segmentation import trace_boundary

    mask = np.zeros((6, 4), dtype=bool)
    mask[:, :] = True  # 4 wide, 6 tall
    ring = trace_boundary(mask)
    assert ring[0] == ring[-1]
    assert set(ring[:-1]) == {(0, 0), (4, 0), (4, 6), (0, 6)}
    assert len(ring) - 1 == 4


def test_trace_boundary_l_shape_and_area():
    from tb_scale_spatial_data_pipeline_spark.raster.segmentation import trace_boundary

    mask = np.zeros((4, 4), dtype=bool)
    mask[:4, :2] = True  # vertical bar
    mask[2:4, :4] = True  # horizontal foot → L shape
    ring = trace_boundary(mask)
    assert ring[0] == ring[-1]
    assert len(ring) - 1 == 6  # L has 6 corners
    xs = np.array([p[0] for p in ring])
    ys = np.array([p[1] for p in ring])
    shoelace = abs(float(np.dot(xs[:-1], ys[1:]) - np.dot(ys[:-1], xs[1:]))) / 2.0
    assert shoelace == mask.sum()


def test_trace_boundary_with_hole_keeps_outer():
    from tb_scale_spatial_data_pipeline_spark.raster.segmentation import trace_boundary

    mask = np.ones((5, 5), dtype=bool)
    mask[2, 2] = False  # one-pixel hole
    ring = trace_boundary(mask)
    assert set(ring[:-1]) == {(0, 0), (5, 0), (5, 5), (0, 5)}


def test_shape_metrics_wkt_area_matches_pixels(spark):
    # traced-ring shoelace area equals pixel count (FIXTURES invariant)
    from tb_scale_spatial_data_pipeline_spark.functions.geometry import wkt_polygon_area
    from tb_scale_spatial_data_pipeline_spark.raster.segmentation import (
        segment_shape_metrics,
    )

    rows = [(int(x), int(y), 1) for x in range(4) for y in range(6)]
    rows += [(int(x), int(y), 2) for x in range(10, 12) for y in range(3)]
    rows += [(10, 3, 2), (10, 4, 2)]  # L-ish appendage on segment 2
    df = spark.createDataFrame(rows, "x int, y int, seg_id long")
    m = segment_shape_metrics(df)
    checked = m.select(
        "seg_id", "area", wkt_polygon_area(F.col("geometry")).alias("poly_area")
    ).collect()
    for r in checked:
        assert r["poly_area"] == r["area"], r


def test_web_mercator_roundtrip_and_known_points():
    import numpy as np

    from tb_scale_spatial_data_pipeline_spark.raster.projections import (
        web_mercator_forward,
        web_mercator_inverse,
    )

    rng = np.random.default_rng(7)
    lon = rng.uniform(-179.9, 179.9, 500)
    lat = rng.uniform(-84.9, 84.9, 500)
    x, y = web_mercator_forward(lon, lat)
    lon2, lat2 = web_mercator_inverse(x, y)
    assert np.max(np.abs(lon2 - lon)) < 1e-9
    assert np.max(np.abs(lat2 - lat)) < 1e-9
    # known anchor: (0,0) -> (0,0); 180W -> -pi*R
    x0, y0 = web_mercator_forward(0.0, 0.0)
    assert abs(float(x0)) < 1e-6 and abs(float(y0)) < 1e-6
    x180, _ = web_mercator_forward(-180.0, 0.0)
    assert abs(float(x180) + np.pi * 6378137.0) < 1e-6


def test_utm_roundtrip_and_known_point():
    import numpy as np

    from tb_scale_spatial_data_pipeline_spark.raster.projections import (
        utm_forward,
        utm_inverse,
    )

    # zone 31N covers 0..6E; sample across the zone and a lat band
    rng = np.random.default_rng(11)
    lon = rng.uniform(0.2, 5.8, 500)
    lat = rng.uniform(-79.0, 83.0, 500)
    e, n = utm_forward(lon, lat, zone=31)
    lon2, lat2 = utm_inverse(e, n, zone=31)
    # series accuracy within a zone: sub-centimeter -> < 1e-6 deg
    assert np.max(np.abs(lon2 - lon)) < 1e-6
    assert np.max(np.abs(lat2 - lat)) < 1e-6
    # central meridian, equator -> exactly (FE, 0)
    e0, n0 = utm_forward(3.0, 0.0, zone=31)
    assert abs(float(e0) - 500000.0) < 1e-6
    assert abs(float(n0)) < 1e-6
    # southern hemisphere false northing
    _, ns = utm_forward(3.0, -1.0, zone=31, north=False)
    assert 9.8e6 < float(ns) < 1.0e7


def test_crs_warp_real_projection_roundtrip(spark):
    """warp_grid_tiles through the geographic->web_mercator preset:
    every emitted target pixel must map back inside the source grid,
    and the warp must cover the interior of the target extent."""
    import numpy as np

    from tb_scale_spatial_data_pipeline_spark.raster.kernels import warp_grid_tiles
    from tb_scale_spatial_data_pipeline_spark.raster.projections import (
        pixel_grid_maps,
        web_mercator_forward,
    )
    from tb_scale_spatial_data_pipeline_spark.raster.tiles import (
        halo_duplicate,
        synthetic_raster,
    )

    # source: 64x64 geographic grid over a 0.64x0.64 deg box at (10E, 45N)
    src_gt = (10.0, 0.01, 45.0, 0.01)
    # target: web-mercator grid over the same box, ~same resolution
    x_lo, y_lo = web_mercator_forward(10.0, 45.0)
    x_hi, y_hi = web_mercator_forward(10.64, 45.64)
    dst_gt = (float(x_lo), (float(x_hi) - float(x_lo)) / 64.0,
              float(y_lo), (float(y_hi) - float(y_lo)) / 64.0)
    t2s, s2t = pixel_grid_maps("geographic", "web_mercator", src_gt, dst_gt)

    img = synthetic_raster(spark, 64, 64, bands=1)
    tiled = halo_duplicate(img, tile_size=32, halo=4)
    out = warp_grid_tiles(tiled, ["b1"], t2s, s2t, method="bilinear").toPandas()
    assert len(out) > 0
    # exactly-once ownership
    assert not out.duplicated(["x", "y"]).any()
    # every target pixel's source anchor lies within the source grid
    sx, sy = t2s(out["x"].to_numpy(float), out["y"].to_numpy(float))
    assert float(np.min(sx)) >= -0.5 and float(np.max(sx)) <= 63.5
    assert float(np.min(sy)) >= -0.5 and float(np.max(sy)) <= 63.5
    # interior coverage: the central block of the target grid is dense
    got = {(int(r.x), int(r.y)) for r in out.itertuples()}
    missing = [(tx, ty) for tx in range(8, 56) for ty in range(8, 56)
               if (tx, ty) not in got]
    assert not missing


def test_crs_warp_exact_tile_grid_independent(spark):
    """The binary-exact quadratic warp must produce identical output
    regardless of tiling (ownership is exactly-once and the map is
    deterministic), and every target pixel appears exactly once."""
    import numpy as np

    from tb_scale_spatial_data_pipeline_spark.raster.kernels import (
        warp_grid_tiles,
    )
    from tb_scale_spatial_data_pipeline_spark.raster.tiles import (
        halo_duplicate,
        synthetic_raster,
    )

    img = synthetic_raster(spark, 64, 64, bands=1)

    def t2s(tx, ty):
        tx = np.asarray(tx, dtype=np.float64)
        ty = np.asarray(ty, dtype=np.float64)
        return tx * 0.5 + (ty * ty) / 256.0, ty * 0.5

    def s2t(sx, sy):
        sx = np.asarray(sx, dtype=np.float64)
        sy = np.asarray(sy, dtype=np.float64)
        ty = 2.0 * sy
        return 2.0 * (sx - (ty * ty) / 256.0), ty

    outs = []
    for ts in (32, 16):
        tiled = halo_duplicate(img, tile_size=ts, halo=4)
        out = warp_grid_tiles(
            tiled, ["b1"], t2s, s2t, method="bilinear", boundary_samples=17
        )
        outs.append(
            sorted(tuple(r) for r in out.select("x", "y", "b1").collect())
        )
    assert outs[0] == outs[1]
    keys = [(x, y) for x, y, _ in outs[0]]
    assert len(keys) == len(set(keys))  # exactly-once ownership
