"""Tiled raster kernels as Arrow-batched applyInPandas (SURVEY §2.6).

Each kernel is vectorized NumPy over one dense tile window (core +
halo rows from ``halo_duplicate``). The tile runner in ``tiles.py``
owns the rest: ``tile_map`` runs the tile ``groupBy``, pivots the
long-format pixels to the dense array and crops the kernel's output to
the ghost-cell core; the warp goes through ``tile_apply``, the same
runner without the crop, and keeps core ownership through its anchor
pixel. This is the Spark mapping of the reference's tiled-buffer
architecture (`2_segmentation/image_segmentation.py:122-149`): the
halo kills tile-edge artifacts; the core crop guarantees each output
pixel is produced exactly once.

No imaging libraries are required: gaussian is a separable NumPy
convolution, PCA is an SVD, reprojection is affine grid sampling.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .tiles import tile_apply, tile_map


def _gaussian_kernel1d(sigma: float) -> np.ndarray:
    radius = max(1, int(math.ceil(3.0 * sigma)))
    xs = np.arange(-radius, radius + 1, dtype=np.float64)
    k = np.exp(-(xs**2) / (2.0 * sigma * sigma))
    return k / k.sum()


def _convolve_sep(img: np.ndarray, k: np.ndarray) -> np.ndarray:
    """Separable 2-D convolution with edge replication (NaN-safe:
    NaNs are filled with 0 and renormalized by the valid-weight sum)."""
    pad = len(k) // 2
    valid = ~np.isnan(img)
    filled = np.where(valid, img, 0.0)

    def conv1(a: np.ndarray, axis: int) -> np.ndarray:
        ap = np.pad(a, [(pad, pad) if i == axis else (0, 0) for i in range(a.ndim)], mode="edge")
        out = np.zeros_like(a, dtype=np.float64)
        for i, w in enumerate(k):
            sl = [slice(None)] * a.ndim
            sl[axis] = slice(i, i + a.shape[axis])
            out += w * ap[tuple(sl)]
        return out

    num = conv1(conv1(filled, 0), 1)
    den = conv1(conv1(valid.astype(np.float64), 0), 1)
    with np.errstate(invalid="ignore", divide="ignore"):
        out = num / den
    out[den == 0] = np.nan
    return out


def gaussian_smooth_tiles(
    tiled: DataFrame, value_cols: list[str], sigma: float = 0.5
) -> DataFrame:
    """R2: per-tile multichannel gaussian smoothing
    (`2_segmentation/image_segmentation.py:30,92-96`, sigma=0.5).
    Requires halo >= ceil(3*sigma) for exact tile-origin invariance."""
    out_schema = "x int, y int, " + ", ".join(f"{c} double" for c in value_cols)

    def smooth(stack, tile_key):
        k = _gaussian_kernel1d(sigma)
        return {col: _convolve_sep(stack[:, :, c], k) for c, col in enumerate(value_cols)}

    return tile_map(tiled, value_cols, out_schema, smooth)


def pca_texture_tiles(tiled: DataFrame, value_cols: list[str]) -> DataFrame:
    """R3: per-tile 1-component PCA texture band
    (`2_segmentation/image_segmentation.py:72-78`). Matches the
    reference's *per-tile* fit semantics (a global Spark ML PCA would
    change results across tile boundaries). Sign is normalized so the
    largest-|loading| component is positive — deterministic across
    LAPACK implementations."""

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        core_pdf = pdf[pdf["is_core"]]
        if core_pdf.empty:  # halo-only border group: nothing to emit
            return pd.DataFrame({"x": [], "y": [], "texture": []})
        m = core_pdf[value_cols].to_numpy(dtype=np.float64)
        mu = np.nanmean(m, axis=0)
        centered = np.where(np.isnan(m), 0.0, m - mu)
        _, _, vt = np.linalg.svd(centered, full_matrices=False)
        pc = vt[0]
        if pc[np.argmax(np.abs(pc))] < 0:
            pc = -pc
        tex = centered @ pc
        return pd.DataFrame(
            {"x": core_pdf["x"].to_numpy(), "y": core_pdf["y"].to_numpy(), "texture": tex}
        )

    return tiled.groupBy("tile_x", "tile_y").applyInPandas(
        kernel, schema="x int, y int, texture double"
    )


def _cubic_weights(t: np.ndarray) -> tuple[np.ndarray, ...]:
    # standard cubic-convolution taps (Keys 1981, a = -0.5)
    a = -0.5
    w_m1 = a * t**3 - 2 * a * t**2 + a * t
    w_0 = (a + 2) * t**3 - (a + 3) * t**2 + 1
    w_1 = -(a + 2) * t**3 + (2 * a + 3) * t**2 - a * t
    w_2 = -a * t**3 + a * t**2
    return w_m1, w_0, w_1, w_2


def _sample_at(
    stack: np.ndarray,
    core: np.ndarray,
    x0: int,
    y0: int,
    sx: np.ndarray,
    sy: np.ndarray,
    method: str,
    value_cols: list[str],
):
    """Sample every band of a dense tile at fractional source coords
    (sx, sy) with the given interpolation. Returns (core_ok, data):
    core_ok marks samples whose anchor pixel lies in the tile CORE —
    the exactly-once ownership rule for overlapping halo tiles."""
    h, w, _ = stack.shape
    data: dict[str, np.ndarray] = {}
    if method == "cubic":
        # 4x4 cubic convolution (the reference's imagery method,
        # `0_preprocessing/feature_stacking.py:319`); needs halo >= 2
        fx = np.clip(sx - x0, 0, w - 1)
        fy = np.clip(sy - y0, 0, h - 1)
        ix = np.floor(fx).astype(int)
        iy = np.floor(fy).astype(int)
        wx = _cubic_weights(fx - ix)
        wy = _cubic_weights(fy - iy)
        core_ok = core[iy, ix]
        for c, col in enumerate(value_cols):
            band = stack[:, :, c]
            acc = np.zeros(len(sx), dtype=np.float64)
            for dy in range(-1, 3):
                ry = np.clip(iy + dy, 0, h - 1)
                row_acc = np.zeros(len(sx), dtype=np.float64)
                for dx in range(-1, 3):
                    rx = np.clip(ix + dx, 0, w - 1)
                    row_acc += wx[dx + 1] * band[ry, rx]
                acc += wy[dy + 1] * row_acc
            data[col] = acc
    elif method == "nearest":
        ix = np.clip(np.rint(sx).astype(int) - x0, 0, w - 1)
        iy = np.clip(np.rint(sy).astype(int) - y0, 0, h - 1)
        core_ok = core[iy, ix]
        for c, col in enumerate(value_cols):
            data[col] = stack[iy, ix, c]
    elif method == "bilinear":
        fx = np.clip(sx - x0, 0, w - 1)
        fy = np.clip(sy - y0, 0, h - 1)
        ix0 = np.floor(fx).astype(int)
        iy0 = np.floor(fy).astype(int)
        ix1 = np.minimum(ix0 + 1, w - 1)
        iy1 = np.minimum(iy0 + 1, h - 1)
        wx = fx - ix0
        wy = fy - iy0
        core_ok = core[iy0, ix0]
        for c, col in enumerate(value_cols):
            band = stack[:, :, c]
            data[col] = (
                band[iy0, ix0] * (1 - wx) * (1 - wy)
                + band[iy0, ix1] * wx * (1 - wy)
                + band[iy1, ix0] * (1 - wx) * wy
                + band[iy1, ix1] * wx * wy
            )
    else:
        raise ValueError(f"unknown method {method}")
    return core_ok, data


def reproject_tiles(
    tiled: DataFrame,
    value_cols: list[str],
    scale: float = 2.0,
    offset_x: float = 0.0,
    offset_y: float = 0.0,
    method: str = "nearest",
) -> DataFrame:
    """R1 (axis-aligned subset): grid reprojection/resampling
    (`0_preprocessing/feature_stacking.py:72-102`): target pixel (X,Y)
    samples source at (X*scale+offset). ``nearest`` for masks,
    ``bilinear``/``cubic`` for continuous bands. Source tiles must
    carry enough halo to cover the sampling footprint. The general
    rotation/shear form is :func:`warp_affine_tiles`."""
    return warp_affine_tiles(
        tiled,
        value_cols,
        affine=(scale, 0.0, offset_x, 0.0, scale, offset_y),
        method=method,
    )


def affine_transform(affine: tuple[float, float, float, float, float, float]):
    """Build the (target_to_source, source_to_target) callable pair for
    :func:`warp_grid_tiles` from ``affine = (a, b, c, d, e, f)``, the
    TARGET→SOURCE transform (the inverse grid transform, exactly what
    warp resampling needs):

        sx = a*tx + b*ty + c
        sy = d*tx + e*ty + f

    The transform must be invertible (|det| > 0).
    """
    a, b, c, d, e, f = (float(v) for v in affine)
    det = a * e - b * d
    if abs(det) < 1e-12:
        raise ValueError(f"affine transform is singular: {affine}")
    return (
        lambda tx, ty: (a * tx + b * ty + c, d * tx + e * ty + f),
        lambda sx, sy: (
            (e * (sx - c) - b * (sy - f)) / det,
            (-d * (sx - c) + a * (sy - f)) / det,
        ),
    )


def warp_affine_tiles(
    tiled: DataFrame,
    value_cols: list[str],
    affine: tuple[float, float, float, float, float, float],
    method: str = "nearest",
) -> DataFrame:
    """R1 (general form): affine CRS warp between pixel grids — the
    engine's mapping of the reference's rasterio ``reproject`` between
    genuinely different CRSs (`0_preprocessing/feature_stacking.py:72-102`).
    ``affine`` is the TARGET→SOURCE transform of
    :func:`affine_transform`; rotation/shear are fully supported
    (b, d ≠ 0). Runs :func:`warp_grid_tiles`, whose bounding lattice
    includes the corners of the widened core box: for an affine map
    its image bounds every target pixel a tile can own."""
    return warp_grid_tiles(tiled, value_cols, *affine_transform(affine), method=method)


def projective_transform(
    matrix: tuple[tuple[float, float, float], ...],
):
    """Build the (target_to_source, source_to_target) callable pair for
    :func:`warp_grid_tiles` from a 3×3 homography mapping TARGET pixel
    coords to SOURCE pixel coords in homogeneous form:

        [sx', sy', w]^T = H @ [tx, ty, 1]^T ;  sx = sx'/w, sy = sy'/w

    A homography is the simplest genuinely non-affine grid transform —
    straight lines stay straight but parallelism is lost and the
    Jacobian varies across the image, the same qualitative behavior as
    a datum/projection change over a small extent. The inverse map is
    the inverse matrix (must be non-singular).
    """
    H = np.asarray(matrix, dtype=np.float64)
    if H.shape != (3, 3):
        raise ValueError("homography must be 3x3")
    Hinv = np.linalg.inv(H)

    def _apply(M: np.ndarray, x: np.ndarray, y: np.ndarray):
        w = M[2, 0] * x + M[2, 1] * y + M[2, 2]
        return (
            (M[0, 0] * x + M[0, 1] * y + M[0, 2]) / w,
            (M[1, 0] * x + M[1, 1] * y + M[1, 2]) / w,
        )

    return (
        lambda tx, ty: _apply(H, tx, ty),
        lambda sx, sy: _apply(Hinv, sx, sy),
    )


def warp_grid_tiles(
    tiled: DataFrame,
    value_cols: list[str],
    target_to_source,
    source_to_target,
    method: str = "nearest",
    boundary_samples: int = 9,
    bound_pad: float = 2.0,
) -> DataFrame:
    """R1 (non-affine form): callable-grid warp — the engine's analog of
    true CRS reprojection (`0_preprocessing/feature_stacking.py:86-96`),
    where the pixel-grid mapping between datums/projections is curved,
    not affine (:func:`warp_affine_tiles` is its affine front end). It
    accepts an arbitrary smooth, invertible coordinate mapping
    (projective homography, thin-plate spline, a pyproj Transformer
    closure, ...) given as a pair of vectorized callables:

        target_to_source(tx, ty) -> (sx, sy)   # sampling direction
        source_to_target(sx, sy) -> (tx, ty)   # bounding direction

    Distribution shape: each source tile forward-maps a ``boundary_samples``²
    lattice over its core bounding box, widened by one source pixel (a
    sample whose anchor pixel is in the core lies less than one pixel
    beyond it), to bound the target pixels it could own (corners alone
    under-cover curved maps — the lattice plus ``bound_pad`` covers
    bounded curvature), enumerates those integer
    target pixels, samples them through ``target_to_source``, and emits
    only pixels whose anchor source pixel lies in its core. Tiles never
    communicate; no global raster is assembled; the halo supplies the
    cross-tile sampling footprint. ``bound_pad`` must dominate the
    transform's deviation from the lattice interpolant over one cell —
    for projective/CRS-grade smoothness the default is generous.
    """
    pad = {"nearest": 1.0, "bilinear": 2.0, "cubic": 3.0}[method] + float(bound_pad)
    n = int(boundary_samples)
    if n < 2:
        raise ValueError("boundary_samples must be >= 2")

    def warp(stack, tile_key, x0, y0, core):
        rows = np.flatnonzero(core.any(axis=1)) + y0
        cols = np.flatnonzero(core.any(axis=0)) + x0
        LX, LY = np.meshgrid(
            np.linspace(cols[0] - 1, cols[-1] + 1, n),
            np.linspace(rows[0] - 1, rows[-1] + 1, n),
        )
        fwd_tx, fwd_ty = source_to_target(LX.ravel(), LY.ravel())
        tx_lo = int(np.floor(np.min(fwd_tx) - pad))
        tx_hi = int(np.ceil(np.max(fwd_tx) + pad))
        ty_lo = int(np.floor(np.min(fwd_ty) - pad))
        ty_hi = int(np.ceil(np.max(fwd_ty) + pad))
        TX, TY = np.meshgrid(
            np.arange(tx_lo, tx_hi + 1), np.arange(ty_lo, ty_hi + 1)
        )
        tx = TX.ravel().astype(np.float64)
        ty = TY.ravel().astype(np.float64)
        sx, sy = target_to_source(tx, ty)
        sx = np.asarray(sx, dtype=np.float64)
        sy = np.asarray(sy, dtype=np.float64)
        h, w, _ = stack.shape
        keep = (sx >= x0) & (sx <= x0 + w - 1) & (sy >= y0) & (sy <= y0 + h - 1)
        sx, sy, tx, ty = sx[keep], sy[keep], tx[keep], ty[keep]
        core_ok, data = _sample_at(stack, core, x0, y0, sx, sy, method, value_cols)
        out = {"x": tx[core_ok].astype(int), "y": ty[core_ok].astype(int)}
        for col in value_cols:
            out[col] = np.asarray(data[col])[core_ok]
        return out

    out_schema = "x int, y int, " + ", ".join(f"{c} double" for c in value_cols)
    out = tile_apply(tiled, value_cols, out_schema, warp)
    # Core ownership is exactly-once by construction (each target pixel's
    # anchor source pixel lies in exactly one tile core). Reduce with a
    # DETERMINISTIC min instead of dropDuplicates so that if a transform
    # ever exceeded its bound and double-owned a pixel, the result stays
    # stable run-to-run (and uniqueness tests can catch the violation)
    # rather than keeping a silently arbitrary row.
    return out.groupBy("x", "y").agg(*[F.min(c).alias(c) for c in value_cols])


def terrain_tiles(
    tiled: DataFrame,
    dem_col: str = "b1",
    cellsize: float = 1.0,
    z_factor: float = 1.0,
    azimuth_deg: float = 315.0,
    altitude_deg: float = 45.0,
) -> DataFrame:
    """DEM terrain derivatives — slope, aspect, hillshade — via Horn's
    3×3 finite differences (the standard GIS formulation).

    The reference treats the DEM as just another aligned band
    (`0_preprocessing/feature_stacking.py:316-320`, bilinear warp);
    terrain derivatives are the canonical focal consumers of that
    band. A 3×3 focal stencil needs halo ≥ 1 for exact tile-origin
    invariance (same contract as gaussian R2).

    Conventions: slope/aspect in degrees; aspect is the compass
    direction of steepest descent (0=N, 90=E; flat cells → -1);
    hillshade in [0, 255] (ArcGIS-style), NaN where the DEM is NaN.
    """
    out_schema = (
        "x int, y int, slope_deg double, aspect_deg double, hillshade double"
    )

    def terrain(stack, tile_key):
        z = stack[:, :, 0]
        zp = np.pad(z, 1, mode="edge")
        a, b, c = zp[:-2, :-2], zp[:-2, 1:-1], zp[:-2, 2:]
        d, f = zp[1:-1, :-2], zp[1:-1, 2:]
        g, h, i = zp[2:, :-2], zp[2:, 1:-1], zp[2:, 2:]
        dzdx = ((c + 2 * f + i) - (a + 2 * d + g)) / (8.0 * cellsize)
        # +y is south (row-major images): north is -y
        dzdy = ((g + 2 * h + i) - (a + 2 * b + c)) / (8.0 * cellsize)
        rise2 = (z_factor * dzdx) ** 2 + (z_factor * dzdy) ** 2
        slope_rad = np.arctan(np.sqrt(rise2))
        slope_deg = np.degrees(slope_rad)
        # aspect: downslope compass bearing (ArcGIS convention)
        asp = np.degrees(np.arctan2(dzdy, -dzdx))
        aspect = np.where(
            asp < 0, 90.0 - asp, np.where(asp > 90.0, 360.0 - asp + 90.0, 90.0 - asp)
        )
        flat = rise2 == 0
        aspect = np.where(flat, -1.0, aspect)
        az_rad = math.radians(360.0 - azimuth_deg + 90.0)
        zen_rad = math.radians(90.0 - altitude_deg)
        asp_rad = np.where(flat, 0.0, np.radians(360.0 - aspect + 90.0))
        hs = 255.0 * (
            np.cos(zen_rad) * np.cos(slope_rad)
            + np.sin(zen_rad) * np.sin(slope_rad) * np.cos(az_rad - asp_rad)
        )
        hs = np.clip(hs, 0.0, 255.0)
        return {"slope_deg": slope_deg, "aspect_deg": aspect, "hillshade": hs}

    return tile_map(tiled, [dem_col], out_schema, terrain)


# ESRI D8 direction codes, ascending: E, SE, S, SW, W, NW, N, NE.
_D8 = (
    (1, 0, 1, 1.0),
    (2, 1, 1, math.sqrt(2.0)),
    (4, 1, 0, 1.0),
    (8, 1, -1, math.sqrt(2.0)),
    (16, 0, -1, 1.0),
    (32, -1, -1, math.sqrt(2.0)),
    (64, -1, 0, 1.0),
    (128, -1, 1, math.sqrt(2.0)),
)


def _round_half_away(v: np.ndarray, dp: int = 6) -> np.ndarray:
    """round() with SQL semantics (half away from zero) — np.round is
    half-even, which would disagree with Spark/DuckDB at exact .5
    boundaries."""
    s = 10.0**dp
    return np.sign(v) * np.floor(np.abs(v) * s + 0.5) / s


def d8_flow_tiles(
    tiled: DataFrame, dem_col: str = "b1", cellsize: float = 1.0
) -> DataFrame:
    """D8 flow direction (O'Callaghan-Mark 1984; ESRI code layout):
    per pixel, the direction of steepest POSITIVE descent among the 8
    neighbors — drop = (z - z_n) / dist — or 0 for pits/flats. The
    hydrology primitive that follows slope/aspect in any DEM stack.

    Focal contract: 3×3 stencil → halo ≥ 1, tile-origin invariant
    (same as terrain_tiles). Determinism: drops are rounded to 6 dp
    (half-away, the engines' round()) BEFORE the argmax, and ties at
    6 dp resolve to the SMALLEST direction code in every engine — the
    discontinuous argmax is taken over a deterministic lattice, the
    same discipline as the relabel/banding queries.
    """
    out_schema = "x int, y int, flow_dir int, max_drop double"

    def d8(stack, tile_key):
        z = stack[:, :, 0]
        zp = np.pad(z, 1, mode="edge")
        h, w = z.shape
        best = np.full(z.shape, -np.inf)
        bdir = np.zeros(z.shape, dtype=np.int64)
        for code, dy, dx, dist in _D8:  # ascending code + strict > ⇒
            zn = zp[1 + dy : 1 + dy + h, 1 + dx : 1 + dx + w]
            drop = _round_half_away((z - zn) / (dist * cellsize))
            upd = drop > best  # smallest code wins ties
            best = np.where(upd, drop, best)
            bdir = np.where(upd, code, bdir)
        flow = np.where(best > 0, bdir, 0)
        md = np.where(best > 0, best, 0.0)
        return {"flow_dir": flow.astype("int32"), "max_drop": md}

    return tile_map(tiled, [dem_col], out_schema, d8)


def morphology_open_tiles(tiled: DataFrame, value_col: str = "b1") -> DataFrame:
    """Grayscale morphological OPENING (3×3 erosion then 3×3 dilation,
    Serra 1982) + white top-hat (v − opened), the classic small-bright-
    object remover (speckle/noise suppression before segmentation —
    the morphology step a reference LULC stack would run where
    `2_segmentation/image_segmentation.py:92-96` runs gaussian).

    Focal contract: the chained stencils have total radius 2, computed
    in ONE halo pass (halo ≥ 2) — erosion evaluated on core±1 from
    exact halo pixels, dilation of those eroded values on the core —
    so kernel composition costs no second shuffle. Determinism: values
    enter on the round(,6) lattice and min/max only SELECT lattice
    members (no arithmetic), so outputs are bit-exact; edge handling
    is replicate-pad, which equals "window ∩ image" for min/max since
    clamping only duplicates in-bounds members.
    """
    out_schema = "x int, y int, opened double, tophat double"

    def open_tophat(stack, tile_key):
        v = _round_half_away(stack[:, :, 0])
        h, w = v.shape

        def focal(a: np.ndarray, op) -> np.ndarray:
            ap = np.pad(a, 1, mode="edge")
            out = a.copy()
            for dy in (-1, 0, 1):
                for dx in (-1, 0, 1):
                    out = op(out, ap[1 + dy : 1 + dy + h, 1 + dx : 1 + dx + w])
            return out

        eroded = focal(v, np.minimum)
        opened = focal(eroded, np.maximum)
        top = _round_half_away(v - opened)
        return {"opened": opened, "tophat": top}

    return tile_map(tiled, [value_col], out_schema, open_tophat)
