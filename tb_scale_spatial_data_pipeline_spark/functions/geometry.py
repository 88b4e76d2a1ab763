"""Geometry scalars over WKT columns (north-star "spatial UDFs over
Parquet/GeoParquet"; SURVEY §2.6 R7's geometry feature surface).

Two tiers:

- **Catalyst tier** (`*_expr` functions): closed-form expressions for
  axis-aligned-rectangle WKT (the engine's polygonization output,
  `raster/segmentation.py`) — regexp-extract the corners, compute
  area/perimeter/centroid in pure JVM expressions. These
  are the hot-path forms: a spatial filter or bbox join over 100 TB
  never leaves codegen.
- **pandas-UDF tier** (`wkt_polygon_area`): general simple-polygon
  area via the shoelace formula, Arrow-vectorized, registered for SQL
  use via ``register_geometry_udfs`` — the engine's §2.7 user-facing
  UDF surface (the reference has none; this is the Spark-native
  equivalent).
"""

from __future__ import annotations

import re

import numpy as np
import pandas as pd

from pyspark.sql import Column, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

_NUM = r"(-?\d+(?:\.\d+)?)"
# corner capture for "POLYGON((x0 y0, x1 y0, x1 y1, x0 y1, x0 y0))"
_RECT_RE = f"POLYGON\\(\\({_NUM} {_NUM}, {_NUM} {_NUM}, {_NUM} {_NUM}"


def rect_x0(wkt: Column) -> Column:
    return F.regexp_extract(wkt, _RECT_RE, 1).cast("double")


def rect_y0(wkt: Column) -> Column:
    return F.regexp_extract(wkt, _RECT_RE, 2).cast("double")


def rect_x1(wkt: Column) -> Column:
    return F.regexp_extract(wkt, _RECT_RE, 3).cast("double")


def rect_y1(wkt: Column) -> Column:
    return F.regexp_extract(wkt, _RECT_RE, 6).cast("double")


def rect_area_expr(wkt: Column) -> Column:
    return (rect_x1(wkt) - rect_x0(wkt)) * (rect_y1(wkt) - rect_y0(wkt))


def rect_perimeter_expr(wkt: Column) -> Column:
    return 2.0 * ((rect_x1(wkt) - rect_x0(wkt)) + (rect_y1(wkt) - rect_y0(wkt)))


def rect_centroid_x_expr(wkt: Column) -> Column:
    return (rect_x0(wkt) + rect_x1(wkt)) / 2.0


def rect_centroid_y_expr(wkt: Column) -> Column:
    return (rect_y0(wkt) + rect_y1(wkt)) / 2.0


def _shoelace_area_series(wkt: pd.Series) -> pd.Series:
    """General simple-polygon area (shoelace) over a WKT series.
    Handles any single-ring POLYGON WKT, not just rectangles."""
    pat = re.compile(r"POLYGON\s*\(\(([^)]*)\)\)")

    def area_of(s: str) -> float:
        m = pat.search(s or "")
        if not m:
            return float("nan")
        pts = np.array(
            [[float(t) for t in p.strip().split()[:2]] for p in m.group(1).split(",")]
        )
        x, y = pts[:, 0], pts[:, 1]
        return float(abs(np.dot(x, np.roll(y, -1)) - np.dot(y, np.roll(x, -1))) / 2.0)

    return wkt.map(area_of)


def wkt_polygon_area(wkt: Column) -> Column:
    """Arrow-vectorized pandas UDF form (created lazily — pandas_udf
    needs an active session, so it can't be a module-level decorator)."""
    return pandas_udf(_shoelace_area_series, "double")(wkt)


def register_geometry_udfs(spark: SparkSession) -> None:
    """§2.7 user-facing UDF registration surface: geometry functions
    become callable from SQL (`SELECT wkt_polygon_area(geometry) …`)."""
    spark.udf.register(
        "wkt_polygon_area", pandas_udf(_shoelace_area_series, "double")
    )


def _parse_ring(s: str) -> np.ndarray | None:
    m = re.search(r"POLYGON\s*\(\(([^)]*)\)\)", s or "")
    if not m:
        return None
    return np.array(
        [[float(t) for t in p.strip().split()[:2]] for p in m.group(1).split(",")]
    )


def _convex_hull(pts: np.ndarray) -> np.ndarray:
    """Andrew's monotone chain (public classic)."""
    pts = np.unique(pts, axis=0)
    if len(pts) <= 2:
        return pts
    pts = pts[np.lexsort((pts[:, 1], pts[:, 0]))]

    def half(seq):
        out = []
        for p in seq:
            while len(out) >= 2 and np.cross(out[-1] - out[-2], p - out[-2]) <= 0:
                out.pop()
            out.append(p)
        return out

    lower = half(pts)
    upper = half(pts[::-1])
    return np.array(lower[:-1] + upper[:-1])


def polygon_shape_features(wkt: pd.Series) -> pd.DataFrame:
    """R7 geometry-side shape features from the polygon ring itself
    (the reference computes these with shapely over vector features,
    `3_object_classification/object_classifier.py:58-68`):
    area (shoelace), perimeter (ring length), min-rotated-rect
    rectangularity & elongation (rotating calipers over the convex
    hull), compactness 4πA/P², shape_index P/(4√A), num_vertices,
    vertex_density vertices/perimeter."""
    rows = []
    for s in wkt:
        ring = _parse_ring(s)
        if ring is None or len(ring) < 4:
            rows.append((np.nan,) * 8)
            continue
        x, y = ring[:-1, 0], ring[:-1, 1]
        x1, y1 = np.roll(x, -1), np.roll(y, -1)
        area = abs(float(np.dot(x, y1) - np.dot(y, x1))) / 2.0
        per = float(np.sqrt((x1 - x) ** 2 + (y1 - y) ** 2).sum())
        hull = _convex_hull(ring[:-1])
        best = np.inf
        best_dims = (0.0, 0.0)
        for i in range(len(hull)):
            e = hull[(i + 1) % len(hull)] - hull[i]
            n = np.linalg.norm(e)
            if n == 0:
                continue
            u = e / n
            v = np.array([-u[1], u[0]])
            pu = hull @ u
            pv = hull @ v
            w_ = pu.max() - pu.min()
            h_ = pv.max() - pv.min()
            if w_ * h_ < best:
                best = w_ * h_
                best_dims = (w_, h_)
        rect_area = best if np.isfinite(best) and best > 0 else 0.0
        rectangularity = area / rect_area if rect_area else 0.0
        long_side = max(best_dims) or 1.0
        short_side = min(best_dims) or 1.0
        elongation = long_side / short_side
        compactness = 4.0 * np.pi * area / (per * per) if per else 0.0
        shape_index = per / (4.0 * np.sqrt(area)) if area else 0.0
        n_vertices = len(ring) - 1
        vertex_density = n_vertices / per if per else 0.0
        rows.append(
            (area, per, rectangularity, elongation, compactness, shape_index, n_vertices, vertex_density)
        )
    return pd.DataFrame(
        rows,
        columns=[
            "geo_area",
            "geo_perimeter",
            "geo_rectangularity",
            "geo_elongation",
            "geo_compactness",
            "geo_shape_index",
            "geo_num_vertices",
            "geo_vertex_density",
        ],
    )


def with_polygon_shape_features(df, geometry_col: str = "geometry"):
    """Append the 8 geometry-side shape features via mapInPandas
    (Arrow-batched; ring parsing + calipers stay in the kernel)."""
    from typing import Iterator

    out_fields = (
        "geo_area double, geo_perimeter double, geo_rectangularity double, "
        "geo_elongation double, geo_compactness double, geo_shape_index double, "
        "geo_num_vertices double, geo_vertex_density double"
    )
    schema = df.schema.simpleString()[7:-1].replace(":", " ") + ", " + out_fields

    def kernel(batches: "Iterator[pd.DataFrame]"):
        for pdf in batches:
            feats = polygon_shape_features(pdf[geometry_col])
            yield pd.concat([pdf.reset_index(drop=True), feats], axis=1)

    return df.mapInPandas(kernel, schema=schema)


# ---------------------------------------------------------------------------
# General polygon overlay (ST_Intersection / ST_Union areas, IoU).
#
# The reference stops at per-polygon shape metrics
# (3_object_classification/object_classifier.py:43); overlay is the
# north-star GeoParquet extension a GIS user reaches for next. Kernel:
# Sutherland & Hodgman 1974 ("Reentrant polygon clipping", CACM 17.1)
# — clips an arbitrary simple subject polygon against a CONVEX clip
# polygon, the classic textbook algorithm. Pure NumPy/stdlib, no
# shapely. Exactness note: for axis-aligned inputs on an integer
# lattice every intersection coordinate is itself an exact lattice
# value (clip edges are parallel or perpendicular to subject edges),
# so shoelace areas — and therefore IoU — are float-exact and
# oracle-checkable against a closed form.


def _close_ring(ring: np.ndarray) -> np.ndarray:
    """Drop a repeated closing vertex if present (open-ring form)."""
    if len(ring) >= 2 and np.array_equal(ring[0], ring[-1]):
        return ring[:-1]
    return ring


def _ring_signed_area(ring: np.ndarray) -> float:
    x, y = ring[:, 0], ring[:, 1]
    return float(np.dot(x, np.roll(y, -1)) - np.dot(y, np.roll(x, -1))) / 2.0


def _sutherland_hodgman(subject: np.ndarray, clip: np.ndarray) -> np.ndarray:
    """Clip simple polygon `subject` by CONVEX polygon `clip`; both
    open rings, any orientation. Returns the clipped open ring
    (possibly with 0 vertices). The inner loops run on plain Python
    floats — IEEE-identical to numpy float64 scalar math (same ops,
    same order) but ~10x faster per pair, which matters in the
    per-pair overlay kernels."""
    subject = _close_ring(np.asarray(subject, dtype=np.float64))
    clip = _close_ring(np.asarray(clip, dtype=np.float64))
    if _ring_signed_area(clip) < 0:  # normalize clip to CCW
        clip = clip[::-1]
    out = [(float(x), float(y)) for x, y in subject]
    cl = [(float(x), float(y)) for x, y in clip]
    n = len(cl)
    for i in range(n):
        ax, ay = cl[i]
        bx, by = cl[(i + 1) % n]
        ex, ey = bx - ax, by - ay
        inp, out = out, []
        if not inp:
            break
        px, py = inp[-1]
        prev_in = ex * (py - ay) - ey * (px - ax) >= 0.0
        for cx, cy in inp:
            cur_in = ex * (cy - ay) - ey * (cx - ax) >= 0.0
            if cur_in != prev_in:
                # segment prev->cur crosses the clip line; parametric t
                dx, dy = cx - px, cy - py
                denom = ex * dy - ey * dx
                if denom != 0.0:
                    tpar = (ex * (ay - py) - ey * (ax - px)) / denom
                    out.append((px + tpar * dx, py + tpar * dy))
            if cur_in:
                out.append((cx, cy))
            px, py, prev_in = cx, cy, cur_in
    return np.array(out) if out else np.empty((0, 2))


def _overlay_metrics(
    wkt_a: str, wkt_b: str, _cache: "dict | None" = None
) -> tuple[float, float, float]:
    """(intersection_area, union_area, iou) for two single-ring WKT
    polygons. Clip side (b) must be convex — Sutherland-Hodgman's
    contract; subject (a) may be any simple polygon. Degenerate /
    unparseable input -> NaNs. ``_cache`` memoizes ring parses within
    one Arrow batch — overlay joins repeat the small side's WKT per
    pair (12 zones x thousands of rects), so parsing it once per
    batch, not once per row, is a pure win with identical results."""
    if _cache is None:
        a = _parse_ring(wkt_a)
        b = _parse_ring(wkt_b)
    else:
        if wkt_a not in _cache:
            _cache[wkt_a] = _parse_ring(wkt_a)
        if wkt_b not in _cache:
            _cache[wkt_b] = _parse_ring(wkt_b)
        a, b = _cache[wkt_a], _cache[wkt_b]
    if a is None or b is None or len(a) < 3 or len(b) < 3:
        return (float("nan"),) * 3
    area_a = abs(_ring_signed_area(_close_ring(a)))
    area_b = abs(_ring_signed_area(_close_ring(b)))
    clipped = _sutherland_hodgman(a, b)
    inter = abs(_ring_signed_area(clipped)) if len(clipped) >= 3 else 0.0
    union = area_a + area_b - inter
    iou = inter / union if union > 0 else float("nan")
    return inter, union, iou


# --- Batch (pair-vectorized) Sutherland-Hodgman (r17, guide §4.2) ---
#
# The per-pair scalar kernel costs ~370 us/pair in interpreter overhead
# for ~3 us of arithmetic (measured on the overlay fixtures: 103k pairs
# = 46 exec-sec). The batch form runs the SAME algorithm — identical
# per-element IEEE-754 expressions, identical emit order (crossing
# point, then the inside vertex), identical clip-edge order — but
# vectorized ACROSS PAIRS with padded (P, V, 2) arrays, so a whole
# Arrow batch clips against one convex polygon in a handful of numpy
# passes. Per-element clip arithmetic is expression-identical (numpy
# float64 ufuncs round like Python scalar float64 ops); piece AREAS go
# through the same scalar ``_ring_signed_area`` per trimmed row (see
# ``_areas_per_row`` — summation order is observable in the last ulp
# because ``tpar`` divisions make crossing coordinates inexact even on
# integer-lattice inputs). Bit-for-bit equality against the scalar
# kernel is asserted over every fixture pair of both overlay queries
# in tests/test_geometry_batch.py, and end to end by the DuckDB oracle
# at all three SFs.


def _pack_rings(rings: list) -> tuple[np.ndarray, np.ndarray]:
    """Pad a list of OPEN rings into (P, Vmax, 2) float64 + counts."""
    cnt = np.array([len(r) for r in rings], dtype=np.int64)
    vmax = int(cnt.max()) if len(cnt) else 0
    pts = np.zeros((len(rings), vmax, 2), dtype=np.float64)
    for i, r in enumerate(rings):
        if len(r):
            pts[i, : len(r)] = r
    return pts, cnt


def _sh_clip_batch(
    pts: np.ndarray, cnt: np.ndarray, clip: np.ndarray
) -> tuple[np.ndarray, np.ndarray]:
    """Clip P padded subject rings against ONE convex clip polygon
    (open ring, any orientation) — the batch twin of
    ``_sutherland_hodgman``: same inside test, same parametric
    intersection, same emit order, per pair."""
    clip = _close_ring(np.asarray(clip, dtype=np.float64))
    if _ring_signed_area(clip) < 0:  # normalize clip to CCW
        clip = clip[::-1]
    ncl = len(clip)
    pts = np.asarray(pts, dtype=np.float64)
    cnt = np.asarray(cnt, dtype=np.int64)
    for i in range(ncl):
        if not cnt.any():
            break
        ax, ay = float(clip[i][0]), float(clip[i][1])
        bx, by = float(clip[(i + 1) % ncl][0]), float(clip[(i + 1) % ncl][1])
        ex, ey = bx - ax, by - ay
        p_, v_ = pts.shape[0], pts.shape[1]
        ar = np.arange(v_)
        valid = ar[None, :] < cnt[:, None]
        x, y = pts[..., 0], pts[..., 1]
        cur_in = (ex * (y - ay) - ey * (x - ax)) >= 0.0
        pidx = (ar[None, :] - 1) % np.maximum(cnt[:, None], 1)
        px = np.take_along_axis(x, pidx, axis=1)
        py = np.take_along_axis(y, pidx, axis=1)
        prev_in = np.take_along_axis(cur_in, pidx, axis=1)
        dx, dy = x - px, y - py
        denom = ex * dy - ey * dx
        crossing = (cur_in != prev_in) & (denom != 0.0) & valid
        keep = cur_in & valid
        emits = crossing.astype(np.int64) + keep.astype(np.int64)
        ends = np.cumsum(emits, axis=1)
        newcnt = ends[:, -1] if v_ else np.zeros_like(cnt)
        base = ends - emits
        # a concave subject can cross one clip line many times: size
        # the output to the largest actual emit count, not v_ + 1
        out = np.zeros(
            (p_, max(int(newcnt.max()) if p_ else 0, 1), 2), dtype=np.float64
        )
        with np.errstate(divide="ignore", invalid="ignore"):
            tpar = (ex * (ay - py) - ey * (ax - px)) / denom
        r, c = np.nonzero(crossing)
        out[r, base[r, c], 0] = px[r, c] + tpar[r, c] * dx[r, c]
        out[r, base[r, c], 1] = py[r, c] + tpar[r, c] * dy[r, c]
        r2, c2 = np.nonzero(keep)
        slot = base[r2, c2] + crossing[r2, c2]
        out[r2, slot, 0] = x[r2, c2]
        out[r2, slot, 1] = y[r2, c2]
        pts, cnt = out, newcnt
    return pts, cnt


def _areas_per_row(pts: np.ndarray, cnt: np.ndarray) -> np.ndarray:
    """abs shoelace area per padded ring via the SAME scalar
    ``_ring_signed_area`` (np.dot accumulation) the per-pair kernel
    used. Clip rings have inexact vertices (the parametric ``tpar``
    division rounds even on integer-lattice inputs), so the summation
    ORDER is observable in the last ulp; calling the identical function
    on the identical trimmed ring keeps the batch kernel bit-for-bit
    equal to the scalar one. Rows with cnt < 3 contribute exactly 0.0,
    matching the scalar ``len(piece) >= 3`` guard. The rolled arrays
    are built vectorized once (bitwise a no-op: np.roll only permutes);
    only the two np.dot reductions run per row. Stride discipline:
    BLAS ddot accumulates DIFFERENTLY for unit-stride vs strided input
    (vectorized multi-accumulator vs scalar loop), so the first operand
    stays the same stride-2 column view ``ring[:, 0]`` the scalar
    kernel passes, and the second stays contiguous like np.roll's
    output — measured: making x contiguous flips low-ulp bits."""
    p_, v_ = pts.shape[0], pts.shape[1]
    out = np.zeros(p_, dtype=np.float64)
    if v_ == 0:
        return out
    ar = np.arange(v_)
    nidx = (ar[None, :] + 1) % np.maximum(cnt[:, None], 1)
    x = pts[..., 0]  # strided views — see stride discipline above
    y = pts[..., 1]
    xn = np.take_along_axis(x, nidx, axis=1)
    yn = np.take_along_axis(y, nidx, axis=1)
    dot = np.dot
    for i, c in enumerate(cnt):
        if c >= 3:
            out[i] = abs(
                float(dot(x[i, :c], yn[i, :c]) - dot(y[i, :c], xn[i, :c]))
                / 2.0
            )
    return out


def _overlay_frame(wkt_a: pd.Series, wkt_b: pd.Series) -> pd.DataFrame:
    """Batch convex overlay: group the Arrow batch by the clip WKT
    (overlay joins repeat the small side per pair) and clip every
    subject in a group at once with ``_sh_clip_batch``."""
    n = len(wkt_a)
    inter = np.full(n, np.nan)
    union = np.full(n, np.nan)
    iou = np.full(n, np.nan)
    ring_cache: dict = {}

    def ring_of(s: str):
        if s not in ring_cache:
            r = _parse_ring(s)
            ring_cache[s] = (
                _close_ring(r) if r is not None and len(r) >= 3 else None
            )
        return ring_cache[s]

    a_rings = [ring_of(s) for s in wkt_a]
    bvals = np.asarray(wkt_b, dtype=object)
    for sb in pd.unique(bvals):
        b = ring_of(sb)
        idx = np.nonzero(
            (bvals == sb) & np.array([r is not None for r in a_rings])
        )[0]
        if b is None or len(idx) == 0:
            continue
        pts, cnt = _pack_rings([a_rings[i] for i in idx])
        area_a = _areas_per_row(pts, cnt)
        area_b = abs(_ring_signed_area(b))
        cpts, ccnt = _sh_clip_batch(pts, cnt, b)
        iv = _areas_per_row(cpts, ccnt)
        uv = area_a + area_b - iv
        inter[idx] = iv
        union[idx] = uv
        iou[idx] = np.where(uv > 0, iv / np.where(uv > 0, uv, 1.0), np.nan)
    return pd.DataFrame(
        {"inter_area": inter, "union_area": union, "iou": iou}
    )


_OVERLAY_SCHEMA = "inter_area double, union_area double, iou double"


def polygon_overlay_cols(wkt_a: Column, wkt_b: Column) -> Column:
    """Struct column (inter_area, union_area, iou) via an
    Arrow-vectorized pandas UDF over two WKT columns."""
    return pandas_udf(_overlay_frame, _OVERLAY_SCHEMA)(wkt_a, wkt_b)


def polygon_intersection_wkt(wkt_a: pd.Series, wkt_b: pd.Series) -> pd.Series:
    """ST_Intersection geometry output: WKT of the clipped ring
    (closed, CCW as produced), 'POLYGON EMPTY' when disjoint, None on
    parse failure. Series-to-series form usable directly as a
    pandas_udf body."""

    def one(sa: str, sb: str) -> str | None:
        a = _parse_ring(sa)
        b = _parse_ring(sb)
        if a is None or b is None or len(a) < 3 or len(b) < 3:
            return None
        ring = _sutherland_hodgman(a, b)
        if len(ring) < 3 or abs(_ring_signed_area(ring)) == 0.0:
            return "POLYGON EMPTY"
        def num(v: float) -> str:
            # shortest round-trip-exact form (repr), integer-simplified
            return str(int(v)) if v == int(v) else repr(float(v))

        pts = [
            f"{num(x)} {num(y)}"
            for x, y in list(map(tuple, ring)) + [tuple(ring[0])]
        ]
        return "POLYGON((" + ", ".join(pts) + "))"

    return pd.Series([one(sa, sb) for sa, sb in zip(wkt_a, wkt_b)])


# ---------------------------------------------------------------------------
# General (concave x concave) overlay tier.
#
# Sutherland-Hodgman requires a CONVEX clip. The general route (the
# classic decomposition argument, e.g. O'Rourke "Computational
# Geometry in C" ch.1-2): ear-clip the CLIP polygon into triangles
# (every simple polygon triangulates; Meisters 1975 two-ears theorem),
# clip the subject against each triangle (convex), and sum the SIGNED
# shoelace areas of the pieces. The triangle interiors partition the
# clip polygon, so the piece areas add exactly; S-H's zero-width
# bridge artifacts on concave subjects cancel in the signed area.
# Reference parity: `3_object_classification/object_classifier.py`
# consumes arbitrary polygonized segments — concave x concave overlay
# is the first GIS ask past the rectangle/convex tier.


def _ear_clip(ring: np.ndarray) -> list[np.ndarray]:
    """Triangulate a simple polygon (open or closed ring, any
    orientation) by ear clipping. Returns a list of (3,2) arrays whose
    interiors partition the polygon. Collinear vertices are dropped as
    degenerate ears. O(n^2) — rings here are small (WKT features)."""
    pts = _close_ring(np.asarray(ring, dtype=np.float64))
    if len(pts) < 3:
        return []
    if _ring_signed_area(pts) < 0:  # normalize to CCW
        pts = pts[::-1]

    def cross(o, a, b) -> float:
        return (a[0] - o[0]) * (b[1] - o[1]) - (a[1] - o[1]) * (b[0] - o[0])

    idx = list(range(len(pts)))
    tris: list[np.ndarray] = []
    stuck = 0
    while len(idx) > 3 and stuck < 2:
        n = len(idx)
        clipped_one = False
        # strict=False: a vertex ON the candidate ear's boundary blocks
        # it — clipping such an ear can break simplicity (the diagonal
        # passes through a reflex vertex; observed on lattice L-shapes
        # where the notch corner is collinear with the ear diagonal).
        # If a full pass finds no ear under the closed test (degenerate
        # touching configs only), retry once with the strict-interior
        # test before giving up.
        strict = stuck == 1
        for k in range(n):
            i0, i1, i2 = idx[(k - 1) % n], idx[k], idx[(k + 1) % n]
            a, b, c = pts[i0], pts[i1], pts[i2]
            cr = cross(a, b, c)
            if cr < 0.0:  # reflex vertex — not an ear
                continue
            if cr == 0.0:  # collinear — zero-area ear, drop the vertex
                idx.pop(k)
                clipped_one = True
                break
            ear = True
            for j in idx:
                if j in (i0, i1, i2):
                    continue
                p = pts[j]
                ca, cb, cc = cross(a, b, p), cross(b, c, p), cross(c, a, p)
                inside = (
                    (ca > 0.0 and cb > 0.0 and cc > 0.0)
                    if strict
                    else (ca >= 0.0 and cb >= 0.0 and cc >= 0.0)
                )
                if inside:
                    ear = False
                    break
            if ear:
                tris.append(np.array([a, b, c]))
                idx.pop(k)
                clipped_one = True
                break
        stuck = 0 if clipped_one else stuck + 1
    if len(idx) == 3:
        a, b, c = pts[idx[0]], pts[idx[1]], pts[idx[2]]
        if cross(a, b, c) != 0.0:
            tris.append(np.array([a, b, c]))
    return tris


def _intersection_area_general(a: np.ndarray, b: np.ndarray) -> float:
    """Intersection area of two arbitrary SIMPLE polygons (open rings):
    triangulate b, Sutherland-Hodgman a against each triangle, sum the
    signed piece areas (triangles partition b, so no double count)."""
    total = 0.0
    for tri in _ear_clip(b):
        piece = _sutherland_hodgman(a, tri)
        if len(piece) >= 3:
            total += abs(_ring_signed_area(piece))
    return total


def _overlay_general_frame(wkt_a: pd.Series, wkt_b: pd.Series) -> pd.DataFrame:
    """(inter_area, area_a, area_b) for concave x concave WKT pairs —
    the batch form of (ear-clip b, S-H a against each triangle, sum
    piece areas): group the Arrow batch by the clip WKT (overlay joins
    repeat the small side per pair; parse + triangulation run once per
    distinct clip), then clip EVERY subject in the group against each
    triangle at once with ``_sh_clip_batch``. Triangle order — and so
    each row's accumulation order — matches the scalar kernel."""
    n = len(wkt_a)
    inter = np.full(n, np.nan)
    area_a = np.full(n, np.nan)
    area_b = np.full(n, np.nan)
    ring_cache: dict = {}

    def ring_of(s: str):
        if s not in ring_cache:
            r = _parse_ring(s)
            ring_cache[s] = (
                _close_ring(r) if r is not None and len(r) >= 3 else None
            )
        return ring_cache[s]

    a_rings = [ring_of(s) for s in wkt_a]
    bvals = np.asarray(wkt_b, dtype=object)
    for sb in pd.unique(bvals):
        b = ring_of(sb)
        idx = np.nonzero(
            (bvals == sb) & np.array([r is not None for r in a_rings])
        )[0]
        if b is None or len(idx) == 0:
            continue
        pts, cnt = _pack_rings([a_rings[i] for i in idx])
        area_a[idx] = _areas_per_row(pts, cnt)
        area_b[idx] = abs(_ring_signed_area(b))
        acc = np.zeros(len(idx), dtype=np.float64)
        for tri in _ear_clip(b):
            cpts, ccnt = _sh_clip_batch(pts, cnt, tri)
            acc += _areas_per_row(cpts, ccnt)
        inter[idx] = acc
    return pd.DataFrame(
        {"inter_area": inter, "area_a": area_a, "area_b": area_b}
    )


_OVERLAY_GENERAL_SCHEMA = "inter_area double, area_a double, area_b double"


def polygon_overlay_general_cols(wkt_a: Column, wkt_b: Column) -> Column:
    """Struct column (inter_area, area_a, area_b) for two WKT columns —
    BOTH may be concave simple polygons (ear-clip + S-H per triangle)."""
    return pandas_udf(_overlay_general_frame, _OVERLAY_GENERAL_SCHEMA)(
        wkt_a, wkt_b
    )


def _rectilinear_decompose(ring: np.ndarray) -> np.ndarray | None:
    """Decompose a simple RECTILINEAR polygon (all edges axis-parallel)
    into interior-disjoint rectangles by horizontal slabs: cut at every
    distinct vertex y; within a slab the covered x-extents come from
    even-odd pairing of the vertical edges spanning it. Exact on any
    lattice (slab midpoints are half-integers). Returns (k,4) array of
    (x0, y0, x1, y1), or None if an edge is diagonal."""
    pts = _close_ring(np.asarray(ring, dtype=np.float64))
    n = len(pts)
    if n < 4:
        return None
    vedges = []
    for i in range(n):
        x0, y0 = pts[i]
        x1, y1 = pts[(i + 1) % n]
        if x0 == x1 and y0 != y1:
            vedges.append((x0, min(y0, y1), max(y0, y1)))
        elif y0 == y1:
            continue  # horizontal edge — bounded by vertical neighbors
        else:
            return None  # diagonal edge: not rectilinear
    ys = sorted({float(p[1]) for p in pts})
    rects = []
    for ylo, yhi in zip(ys, ys[1:]):
        ymid = (ylo + yhi) / 2.0
        xs = sorted(x for (x, lo, hi) in vedges if lo < ymid < hi)
        for xa, xb in zip(xs[0::2], xs[1::2]):
            rects.append((xa, ylo, xb, yhi))
    return np.array(rects, dtype=np.float64) if rects else None


def _decompose_series(wkt: pd.Series) -> pd.Series:
    out = []
    for s in wkt:
        ring = _parse_ring(s)
        rects = _rectilinear_decompose(ring) if ring is not None else None
        out.append(None if rects is None else [list(r) for r in rects])
    return pd.Series(out, dtype=object)


def rectilinear_decompose_col(wkt: Column) -> Column:
    """array<array<double>> of (x0,y0,x1,y1) slab rectangles for a
    rectilinear WKT polygon column (null for non-rectilinear input) —
    the explode-side of the generalized scanline union."""
    return pandas_udf(_decompose_series, "array<array<double>>")(wkt)


def dp_kept_batch(Y: np.ndarray) -> list:
    """Vectorized integer Douglas-Peucker over an (N, V) int64 matrix
    of y values with x = 10*col; returns one sorted kept-index array
    per row (tolerance test 4*cross^2 > 9*len2, ties -> smallest k).

    The recursion is run as a frontier of (row, a, b) segments per
    depth level; all cross products for a level go through one numpy
    pass (§4.2 — the former per-row Python DP cost ~10 us/row).
    The kept set is the union of endpoints of every segment the
    recursion ever enqueues, which is traversal-order independent, so
    level-order equals the scalar stack order; all math is int64 on
    the same integers, so results are bit-identical to the scalar DP
    (pinned by tests/test_polyline_batch.py: fixture id range + random
    fuzz vs an independent stack-based reference). np.unique collapses
    duplicate y-rows within a batch first — one O(N log N) sort per
    Arrow batch, negligible at any scale.
    """
    Y = np.asarray(Y, dtype=np.int64)
    uY, inv = np.unique(Y, axis=0, return_inverse=True)
    n, V = uY.shape
    K = np.arange(V, dtype=np.int64)
    kept = np.zeros((n, V), dtype=bool)
    seg = np.stack(
        [
            np.arange(n, dtype=np.int64),
            np.zeros(n, dtype=np.int64),
            np.full(n, V - 1, dtype=np.int64),
        ],
        axis=1,
    )
    while len(seg):
        r, a, b = seg[:, 0], seg[:, 1], seg[:, 2]
        kept[r, a] = True
        kept[r, b] = True
        ax, bx = 10 * a, 10 * b
        ay, by = uY[r, a], uY[r, b]
        len2 = (bx - ax) ** 2 + (by - ay) ** 2
        dx, dy = (bx - ax)[:, None], (by - ay)[:, None]
        py = uY[r, :]
        c = dx * (py - ay[:, None]) - dy * (10 * K[None, :] - ax[:, None])
        c2 = c * c
        interior = (K[None, :] > a[:, None]) & (K[None, :] < b[:, None])
        c2m = np.where(interior, c2, -1)
        # first max -> smallest k, matching the scalar strict-> scan
        kbest = np.argmax(c2m, axis=1)
        c2best = c2m[np.arange(len(seg)), kbest]
        split = (c2best >= 0) & (4 * c2best > 9 * len2)
        if not split.any():
            break
        rs, as_, bs, ks = r[split], a[split], b[split], kbest[split]
        seg = np.concatenate(
            [
                np.stack([rs, as_, ks], axis=1),
                np.stack([rs, ks, bs], axis=1),
            ]
        )
    keptN = kept[inv]
    cols = (np.flatnonzero(keptN) % V).astype(np.int64)
    counts = keptN.sum(axis=1)
    return np.split(cols, np.cumsum(counts)[:-1])
