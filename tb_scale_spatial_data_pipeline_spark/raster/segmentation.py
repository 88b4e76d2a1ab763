"""Tiled graph-based segmentation + polygon metrics (SURVEY §2.6
R4/R6/R7, P18).

``segment_tiles`` runs a Felzenszwalb–Huttenlocher-style graph
segmentation (public algorithm: sort 4-connectivity edges by feature
distance; union–find merge when the edge weight is below both
components' internal-difference + scale/|C| threshold; then absorb
components below min_size) per tile over the halo-extended window —
the reference's exact tiling strategy
(`2_segmentation/image_segmentation.py:28-29,142-149`, scale=35,
min_size=15). The tile runner ``tiles.py::tile_map`` owns the tile
``groupBy``, the pivot to a dense window and the crop of the labels to
the ghost-cell core.

Global segment ids use the order-free deterministic scheme from
SURVEY §7 P18 — ``(tile_y * 10^6 + tile_x) * 10^7 + local_label`` —
replacing the reference's sequential ``max+1`` offset chain
(`2_segmentation/image_segmentation.py:150,164`), which would force
serial tile execution. Ids differ from the reference's (benign,
declared); the *partition* of pixels into segments is the comparable
output.

``segment_shape_metrics`` computes the object-classifier's 6-feature
geometric set (`3_object_classification/object_classifier.py:43,58-68`)
directly from the label raster: area (pixel count), perimeter
(exposed-edge count), rectangularity (area/bbox area), elongation
(bbox aspect), compactness (4πA/P²), shape_index (P/(4√A)),
num_vertices (corner count of the rasterized boundary via 2×2
odd-parity windows), vertex_density (vertices/perimeter). R6's
polygonization emits the EXACT outer-boundary ring per segment
(crack-following ``trace_boundary``; shoelace area of the ring equals
the pixel count — the FIXTURES.md invariant); holes are represented
by the outer ring only.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame

from .tiles import tile_map


def _felzenszwalb(img: np.ndarray, scale: float, min_size: int) -> np.ndarray:
    """Classic FH04 segmentation on (H, W, C) float array → int32
    labels (0..n-1), deterministic (stable edge sort)."""
    h, w, _ = img.shape
    n = h * w
    idx = np.arange(n).reshape(h, w)

    # 4-connectivity edges with euclidean feature distance
    def edge_block(a_idx, b_idx, a_px, b_px):
        wgt = np.sqrt(((a_px - b_px) ** 2).sum(axis=-1))
        return a_idx.ravel(), b_idx.ravel(), wgt.ravel()

    ea1, eb1, ew1 = edge_block(idx[:, :-1], idx[:, 1:], img[:, :-1, :], img[:, 1:, :])
    ea2, eb2, ew2 = edge_block(idx[:-1, :], idx[1:, :], img[:-1, :, :], img[1:, :, :])
    ea = np.concatenate([ea1, ea2])
    eb = np.concatenate([eb1, eb2])
    ew = np.concatenate([ew1, ew2])
    order = np.lexsort((eb, ea, ew))  # weight asc, then ids — fully deterministic

    parent = np.arange(n, dtype=np.int64)
    rank = np.zeros(n, dtype=np.int32)
    size = np.ones(n, dtype=np.int64)
    internal = np.zeros(n, dtype=np.float64)

    def find(x: int) -> int:
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:
            parent[x], x = root, parent[x]
        return root

    def union(a: int, b: int) -> int:
        if rank[a] < rank[b]:
            a, b = b, a
        parent[b] = a
        size[a] += size[b]
        if rank[a] == rank[b]:
            rank[a] += 1
        return a

    for ei in order:
        a, b = find(ea[ei]), find(eb[ei])
        if a == b:
            continue
        wgt = ew[ei]
        if wgt <= min(internal[a] + scale / size[a], internal[b] + scale / size[b]):
            r = union(a, b)
            internal[r] = wgt

    # absorb small components (same edge order, as in the reference impl)
    for ei in order:
        a, b = find(ea[ei]), find(eb[ei])
        if a != b and (size[a] < min_size or size[b] < min_size):
            union(a, b)

    roots = np.array([find(i) for i in range(n)], dtype=np.int64)
    _, labels = np.unique(roots, return_inverse=True)
    return labels.reshape(h, w).astype(np.int32)


def segment_tiles(
    tiled: DataFrame,
    value_cols: list[str],
    scale: float = 35.0,
    min_size: int = 15,
) -> DataFrame:
    """R4: per-tile segmentation over halo windows; output core pixels
    with deterministic global segment ids (x, y, seg_id)."""

    def segment(stack, tile_key):
        tx, ty = tile_key
        # NaN values and pixels missing from the window segment as 0
        labels = _felzenszwalb(np.nan_to_num(stack, nan=0.0), scale, min_size)
        gid = (np.int64(ty) * 1_000_000 + tx) * 10_000_000 + labels.astype(np.int64)
        return {"seg_id": gid}

    return tile_map(tiled, value_cols, "x int, y int, seg_id long", segment)


def trace_boundary(mask: np.ndarray) -> list[tuple[int, int]] | None:
    """Exact outer-boundary ring of a rasterized region (R6's true
    polygonization): crack-following along pixel edges.

    Directed boundary edges are emitted with the interior on the LEFT
    (top edges run +x, right edges +y, bottom edges -x, left edges -y),
    then stitched into rings; at pinch vertices (diagonally-touching
    cells) the leftmost turn relative to the incoming direction keeps
    each ring simple. Returns the largest-|area| ring (the outer
    boundary; inner rings are holes) with collinear vertices merged —
    closed (first == last). None for an empty mask.
    """
    h, w = mask.shape
    if not mask.any():
        return None
    pad = np.zeros((h + 2, w + 2), dtype=bool)
    pad[1:-1, 1:-1] = mask
    edges: dict[tuple[int, int], list[tuple[int, int]]] = {}

    def add(a, b):
        edges.setdefault(a, []).append(b)

    ys, xs = np.nonzero(pad)
    for y, x in zip(ys, xs):
        gx, gy = x - 1, y - 1  # back to unpadded coords
        if not pad[y - 1, x]:  # top edge, interior below → run +x
            add((gx, gy), (gx + 1, gy))
        if not pad[y + 1, x]:  # bottom edge → run -x
            add((gx + 1, gy + 1), (gx, gy + 1))
        if not pad[y, x - 1]:  # left edge → run -y
            add((gx, gy + 1), (gx, gy))
        if not pad[y, x + 1]:  # right edge → run +y
            add((gx + 1, gy), (gx + 1, gy + 1))

    def leftmost_turn(incoming, options):
        # prefer left turn, then straight, then right, then back
        ix, iy = incoming
        order = [(-iy, ix), (ix, iy), (iy, -ix), (-ix, -iy)]
        for d in order:
            for o in options:
                if (o[0] - cur[0], o[1] - cur[1]) == d:
                    return o
        return options[0]

    rings = []
    while edges:
        start = min(edges)
        cur = start
        nxt = edges[cur].pop()
        if not edges[cur]:
            del edges[cur]
        ring = [cur]
        incoming = (nxt[0] - cur[0], nxt[1] - cur[1])
        cur = nxt
        while cur != start:
            ring.append(cur)
            options = edges.get(cur)
            if not options:  # malformed (shouldn't happen) — bail out
                return None
            nxt = leftmost_turn(incoming, options)
            options.remove(nxt)
            if not options:
                del edges[cur]
            incoming = (nxt[0] - cur[0], nxt[1] - cur[1])
            cur = nxt
        ring.append(start)
        rings.append(ring)

    def ring_area(r):
        xs_ = np.array([p[0] for p in r])
        ys_ = np.array([p[1] for p in r])
        return float(np.dot(xs_[:-1], ys_[1:]) - np.dot(ys_[:-1], xs_[1:])) / 2.0

    outer = max(rings, key=lambda r: abs(ring_area(r)))
    # merge collinear runs
    merged = [outer[0]]
    for p in outer[1:]:
        if len(merged) >= 2:
            a, b = merged[-2], merged[-1]
            if (b[0] - a[0]) * (p[1] - b[1]) == (b[1] - a[1]) * (p[0] - b[0]):
                merged[-1] = p
                continue
        merged.append(p)
    # first point may be mid-edge: re-check closure collinearity
    if len(merged) > 3:
        a, b, c = merged[-2], merged[0], merged[1]
        if (b[0] - a[0]) * (c[1] - b[1]) == (b[1] - a[1]) * (c[0] - b[0]):
            merged = merged[1:-1] + [merged[1]]
    return merged


def segment_shape_metrics(segments: DataFrame) -> DataFrame:
    """R6/R7: per-segment polygonization (bbox WKT) + the 6 shape
    features, computed distributively: pixels shuffle once on seg_id
    (tile-local by construction of the id scheme, so the shuffle is
    balanced), and each segment's metrics reduce in one pass."""

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        out = []
        for seg_id, g in pdf.groupby("seg_id"):
            xs = g["x"].to_numpy()
            ys = g["y"].to_numpy()
            x0, x1 = xs.min(), xs.max()
            y0, y1 = ys.min(), ys.max()
            w = int(x1 - x0 + 1)
            h = int(y1 - y0 + 1)
            mask = np.zeros((h + 2, w + 2), dtype=bool)  # 1-px guard ring
            mask[ys - y0 + 1, xs - x0 + 1] = True
            area = int(mask.sum())
            # perimeter: exposed 4-neighbor edges
            per = int(
                (mask & ~np.roll(mask, 1, 0)).sum()
                + (mask & ~np.roll(mask, -1, 0)).sum()
                + (mask & ~np.roll(mask, 1, 1)).sum()
                + (mask & ~np.roll(mask, -1, 1)).sum()
            )
            # vertices: 2x2 windows with odd occupancy = polygon corners
            q = (
                mask[:-1, :-1].astype(np.int8)
                + mask[:-1, 1:]
                + mask[1:, :-1]
                + mask[1:, 1:]
            )
            n_vertices = int(((q == 1) | (q == 3)).sum())
            bbox_area = w * h
            rectangularity = area / bbox_area
            elongation = max(w, h) / min(w, h)
            compactness = 4.0 * np.pi * area / (per * per) if per else 0.0
            shape_index = per / (4.0 * np.sqrt(area)) if area else 0.0
            vertex_density = n_vertices / per if per else 0.0
            ring = trace_boundary(mask[1:-1, 1:-1])
            if ring is not None:
                pts = ", ".join(f"{px + x0} {py + y0}" for px, py in ring)
                wkt = f"POLYGON(({pts}))"
            else:  # degenerate fallback: bbox ring
                wkt = (
                    f"POLYGON(({x0} {y0}, {x1 + 1} {y0}, {x1 + 1} {y1 + 1}, "
                    f"{x0} {y1 + 1}, {x0} {y0}))"
                )
            out.append(
                (
                    seg_id,
                    wkt,
                    area,
                    per,
                    rectangularity,
                    elongation,
                    compactness,
                    shape_index,
                    n_vertices,
                    vertex_density,
                )
            )
        return pd.DataFrame(
            out,
            columns=[
                "seg_id",
                "geometry",
                "area",
                "perimeter",
                "rectangularity",
                "elongation",
                "compactness",
                "shape_index",
                "num_vertices",
                "vertex_density",
            ],
        )

    schema = (
        "seg_id long, geometry string, area long, perimeter long, "
        "rectangularity double, elongation double, compactness double, "
        "shape_index double, num_vertices int, vertex_density double"
    )
    return segments.groupBy("seg_id").applyInPandas(kernel, schema=schema)
