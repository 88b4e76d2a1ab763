"""Raster-shaped composite queries (SURVEY §2.3 A1/A2, E1 lifecycle).

The reference's temporal composites operate per pixel over
co-registered scenes. Here the pixel table is synthesized
deterministically from `lineitem` (same derivation on both engines),
so the *relational skeleton* of the raster pipeline — masked median
composite, max-NDVI argmax composite — is DuckDB-oracle-checkable.
The true tiled kernels (halo exchange, segmentation) live in
``raster/`` with property-based tests instead.

Pixel synthesis: x = l_orderkey % 32, y = l_partkey % 32,
scene = l_linenumber, ndvi = l_discount * 100 masked NULL when
l_tax > 0.06 (the UDM2-style validity mask, P5/P6), bands b1/b2 from
quantity/price.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators.composites import argmax_composite, grouped_median
from ._util import t, registry

QUERIES, ORACLES, _q = registry()

_SQL_PIXELS = """
    SELECT l_orderkey % 32 AS x,
           l_partkey % 32 AS y,
           l_linenumber AS scene,
           l_orderkey, l_linenumber,
           CASE WHEN l_tax > 0.06 THEN NULL ELSE l_discount * 100.0 END AS ndvi,
           l_quantity AS b1,
           l_extendedprice AS b2
    FROM lineitem
"""


def _pixels(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem")
    return li.select(
        (F.col("l_orderkey") % 32).alias("x"),
        (F.col("l_partkey") % 32).alias("y"),
        F.col("l_linenumber").alias("scene"),
        "l_orderkey",
        "l_linenumber",
        F.when(F.col("l_tax") > 0.06, None)
        .otherwise(F.col("l_discount") * 100.0)
        .alias("ndvi"),
        F.col("l_quantity").alias("b1"),
        F.col("l_extendedprice").alias("b2"),
    )


# ---------------------------------------------------------------------------
# A1: per-pixel nanmedian composite
# (`0_preprocessing/feature_stacking.py:106-138`): masked scenes are
# NULL and ignored; all-masked pixels yield NULL (reference writes the
# nodata sentinel there — the sink-side mapping is P6).
@_q(
    "pixel_median_composite",
    f"""
    WITH pixels AS ({_SQL_PIXELS})
    SELECT x, y, CAST(median(ndvi) AS DOUBLE) AS median_ndvi
    FROM pixels GROUP BY x, y
    """,
)
def q_pixel_median_composite(spark: SparkSession, sf_dir: str) -> DataFrame:
    px = _pixels(spark, sf_dir)
    return grouped_median(px, ["x", "y"], "ndvi", out_col="median_ndvi")


# ---------------------------------------------------------------------------
# A2: per-pixel max-NDVI argmax composite keeping the full band payload
# (`0_preprocessing/feature_stacking.py:140-167`); masked rows are
# never winners. Tie-break is the deterministic struct order
# (ndvi, l_orderkey, l_linenumber, ...).
@_q(
    "max_ndvi_composite",
    f"""
    WITH pixels AS ({_SQL_PIXELS})
    SELECT x, y, ndvi AS max_ndvi, l_orderkey, l_linenumber, b1, b2
    FROM (
      SELECT *, row_number() OVER (
        PARTITION BY x, y
        ORDER BY ndvi DESC, l_orderkey DESC, l_linenumber DESC, b1 DESC, b2 DESC
      ) AS rn
      FROM pixels WHERE ndvi IS NOT NULL
    ) WHERE rn = 1
    """,
)
def q_max_ndvi_composite(spark: SparkSession, sf_dir: str) -> DataFrame:
    px = _pixels(spark, sf_dir)
    return argmax_composite(
        px, ["x", "y"], "ndvi", ["l_orderkey", "l_linenumber", "b1", "b2"]
    )


# ---------------------------------------------------------------------------
# Zonal majority filter — the standard LULC post-classification step
# (cf. reference 1_pixel_classification: per-zone modal class smooths
# salt-and-pepper pixel labels): classify the synthetic field into
# coarse bands, then per 16x16 zone emit the MAJORITY class
# (deterministic tie-break: min class among max counts) and its
# purity. Plan: one projection classifies (no shuffle), one groupBy
# (zone, class) with map-side partials, and the |zones|x|classes|
# count table resolves the argmax — pixels shuffle once as counts.
# Determinism seam: the trig field is round(,6)-ed BEFORE the coarse
# floor(/60) banding, the same continuous-blend rounding that makes
# the r6 raster oracles hash-exact; band boundaries (multiples of 60)
# are not attained by the rounded field on this grid.
def _sql_zonal_majority() -> str:
    # field(x, y) for synthetic_raster(64, 64, bands=1, seed=42) —
    # expression-for-expression the same as _sql_terrain's z()
    fld = (
        "(sin(CAST(x AS DOUBLE) / 10.0) * 40.0"
        " + cos(CAST(y AS DOUBLE) / 12.0) * 40.0 + 100.0"
        " + CASE WHEN (CAST(x AS DOUBLE) - 35.0) * (CAST(x AS DOUBLE) - 35.0)"
        "        + (CAST(y AS DOUBLE) - 30.0) * (CAST(y AS DOUBLE) - 30.0)"
        "        < 400.0 THEN 80.0 ELSE 0.0 END)"
    )
    return f"""
    WITH px AS (
      SELECT x.i AS x, y.i AS y,
             CAST(floor(round({fld.replace('x', 'x.i').replace('y', 'y.i')}, 6)
                        / 60.0) AS BIGINT) AS cls
      FROM unnest(generate_series(0, 63)) AS x(i),
           unnest(generate_series(0, 63)) AS y(i)
    ), counts AS (
      SELECT x // 16 AS zone_x, y // 16 AS zone_y, cls, COUNT(*) AS c
      FROM px GROUP BY 1, 2, 3
    ), mx AS (
      SELECT zone_x, zone_y, MAX(c) AS mc, SUM(c) AS zone_px
      FROM counts GROUP BY 1, 2
    )
    SELECT CAST(c.zone_x AS BIGINT) AS zone_x,
           CAST(c.zone_y AS BIGINT) AS zone_y,
           CAST(MIN(c.cls) AS BIGINT) AS majority_class,
           CAST(MAX(m.mc) AS BIGINT) AS class_px,
           round(CAST(MAX(m.mc) AS DOUBLE) / MAX(m.zone_px), 6) AS purity
    FROM counts c JOIN mx m ON m.zone_x = c.zone_x AND m.zone_y = c.zone_y
                           AND c.c = m.mc
    GROUP BY c.zone_x, c.zone_y
    ORDER BY zone_x, zone_y
    """


@_q("zonal_majority_filter", _sql_zonal_majority())
def q_zonal_majority_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..raster.tiles import synthetic_raster

    px = synthetic_raster(spark, 64, 64, bands=1)
    classified = px.select(
        (F.col("x") / 16).cast("bigint").alias("zone_x"),
        (F.col("y") / 16).cast("bigint").alias("zone_y"),
        F.floor(F.round(F.col("b1"), 6) / 60.0).cast("bigint").alias("cls"),
    )
    counts = classified.groupBy("zone_x", "zone_y", "cls").agg(
        F.count(F.lit(1)).alias("c")
    )
    mx = counts.groupBy("zone_x", "zone_y").agg(
        F.max("c").alias("mc"), F.sum("c").alias("zone_px")
    )
    return (
        counts.join(mx, ["zone_x", "zone_y"])
        .where(F.col("c") == F.col("mc"))
        .groupBy("zone_x", "zone_y")
        .agg(
            F.min("cls").cast("bigint").alias("majority_class"),
            F.max("mc").cast("bigint").alias("class_px"),
            F.round(
                F.max("mc").cast("double") / F.max("zone_px"), 6
            ).alias("purity"),
        )
        .orderBy("zone_x", "zone_y")
    )


# ---------------------------------------------------------------------------
# D8 flow direction over the synthetic DEM — the hydrology primitive
# after slope/aspect; Spark side runs the REAL halo-tiled focal
# kernel (raster/kernels.d8_flow_tiles), the oracle recomputes every
# clamped neighbor elevation from the closed-form field (the r6
# raster-oracle technique). The discontinuous argmax is made
# engine-stable by rounding drops to the 6-dp lattice with an
# EXPLICIT half-away expression (sign*floor(abs*1e6+0.5)/1e6) in both
# engines, then tie-breaking to the smallest direction code.
def _sql_d8_flow() -> str:
    def z(xx: str, yy: str) -> str:
        cx = f"least(greatest({xx}, 0), 63)"
        cy = f"least(greatest({yy}, 0), 63)"
        return (
            f"(sin(CAST({cx} AS DOUBLE) / 10.0) * 40.0"
            f" + cos(CAST({cy} AS DOUBLE) / 12.0) * 40.0 + 100.0"
            f" + CASE WHEN (CAST({cx} AS DOUBLE) - 35.0) * (CAST({cx} AS DOUBLE) - 35.0)"
            f"        + (CAST({cy} AS DOUBLE) - 30.0) * (CAST({cy} AS DOUBLE) - 30.0)"
            f"        < 400.0 THEN 80.0 ELSE 0.0 END)"
        )

    raw = f"(({z('p.x', 'p.y')}) - ({z('p.x + d.dx', 'p.y + d.dy')})) / d.dist"
    return f"""
    WITH px AS (
      SELECT x.i AS x, y.i AS y
      FROM unnest(generate_series(0, 63)) AS x(i),
           unnest(generate_series(0, 63)) AS y(i)
    ),
    dirs(code, dy, dx, dist) AS (
      VALUES (1, 0, 1, 1.0), (2, 1, 1, sqrt(2.0)), (4, 1, 0, 1.0),
             (8, 1, -1, sqrt(2.0)), (16, 0, -1, 1.0),
             (32, -1, -1, sqrt(2.0)), (64, -1, 0, 1.0),
             (128, -1, 1, sqrt(2.0))
    ),
    drops AS (
      SELECT p.x, p.y, d.code,
             sign({raw}) * floor(abs({raw}) * 1000000.0 + 0.5)
               / 1000000.0 AS drop6
      FROM px p CROSS JOIN dirs d
    ),
    agg AS (SELECT x, y, MAX(drop6) AS mx FROM drops GROUP BY x, y)
    SELECT CAST(a.x AS INT) AS x, CAST(a.y AS INT) AS y,
           CAST(CASE WHEN a.mx > 0
                THEN (SELECT MIN(code) FROM drops dd
                      WHERE dd.x = a.x AND dd.y = a.y AND dd.drop6 = a.mx)
                ELSE 0 END AS INT) AS flow_dir,
           CASE WHEN a.mx > 0 THEN a.mx ELSE 0.0 END AS max_drop
    FROM agg a ORDER BY x, y
    """


@_q("raster_d8_flow", _sql_d8_flow())
def q_raster_d8_flow(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..raster.kernels import d8_flow_tiles
    from ..raster.tiles import halo_duplicate, synthetic_raster

    img = synthetic_raster(spark, 64, 64, bands=1)
    tiled = halo_duplicate(img, tile_size=32, halo=1)
    return d8_flow_tiles(tiled, "b1").orderBy("x", "y")


# ---------------------------------------------------------------------------
# Per-tile histogram equalization — the contrast-enhancement sibling
# of percentile_stretch (P8): remap each pixel value to
# (255 * cdf) // n within its tile, then report the equalized 16-bin
# histogram per tile (the flatness of which is the point of the op).
# Everything stays on the integer lattice: values enter as the
# round(,6) field (the continuous-blend seam), the CDF is a
# cumulative COUNT over the per-tile DISTINCT-value table (a bounded
# frame — |distinct values| per tile, never pixels), and the remap is
# integer floor division — no float division anywhere, so both
# engines agree exactly. At scale the only pixel-grain work is one
# groupBy into (tile, value) counts with map-side partials.
def _sql_hist_equalization() -> str:
    fld = (
        "(sin(CAST(x.i AS DOUBLE) / 10.0) * 40.0"
        " + cos(CAST(y.i AS DOUBLE) / 12.0) * 40.0 + 100.0"
        " + CASE WHEN (CAST(x.i AS DOUBLE) - 35.0) * (CAST(x.i AS DOUBLE) - 35.0)"
        "        + (CAST(y.i AS DOUBLE) - 30.0) * (CAST(y.i AS DOUBLE) - 30.0)"
        "        < 400.0 THEN 80.0 ELSE 0.0 END)"
    )
    return f"""
    WITH px AS (
      SELECT x.i // 32 AS tile_x, y.i // 32 AS tile_y,
             round({fld}, 6) AS v6
      FROM unnest(generate_series(0, 63)) AS x(i),
           unnest(generate_series(0, 63)) AS y(i)
    ), counts AS (
      SELECT tile_x, tile_y, v6, COUNT(*) AS c
      FROM px GROUP BY 1, 2, 3
    ), cdf AS (
      SELECT tile_x, tile_y, v6, c,
             SUM(c) OVER (PARTITION BY tile_x, tile_y ORDER BY v6) AS cum,
             SUM(c) OVER (PARTITION BY tile_x, tile_y) AS n
      FROM counts
    ), eq AS (
      SELECT tile_x, tile_y, (255 * cum) // n AS eqv, c FROM cdf
    )
    SELECT CAST(tile_x AS BIGINT) AS tile_x,
           CAST(tile_y AS BIGINT) AS tile_y,
           CAST(eqv // 16 AS BIGINT) AS bin,
           CAST(SUM(c) AS BIGINT) AS n_px
    FROM eq GROUP BY 1, 2, 3 ORDER BY tile_x, tile_y, bin
    """


@_q("raster_hist_equalization", _sql_hist_equalization())
def q_raster_hist_equalization(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from ..raster.tiles import synthetic_raster

    px = synthetic_raster(spark, 64, 64, bands=1).select(
        F.floor(F.col("x") / 32).alias("tile_x"),
        F.floor(F.col("y") / 32).alias("tile_y"),
        F.round(F.col("b1"), 6).alias("v6"),
    )
    counts = px.groupBy("tile_x", "tile_y", "v6").agg(
        F.count(F.lit(1)).alias("c")
    )
    w_cum = (
        Window.partitionBy("tile_x", "tile_y")
        .orderBy("v6")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    w_all = Window.partitionBy("tile_x", "tile_y")
    cdf = counts.select(
        "tile_x",
        "tile_y",
        "c",
        F.sum("c").over(w_cum).alias("cum"),
        F.sum("c").over(w_all).alias("n"),
    )
    eq = cdf.select(
        "tile_x", "tile_y", F.expr("(255 * cum) div n").alias("eqv"), "c"
    )
    return (
        eq.groupBy(
            F.col("tile_x").cast("bigint").alias("tile_x"),
            F.col("tile_y").cast("bigint").alias("tile_y"),
            F.expr("eqv div 16").cast("bigint").alias("bin"),
        )
        .agg(F.sum("c").cast("bigint").alias("n_px"))
        .orderBy("tile_x", "tile_y", "bin")
    )


# ---------------------------------------------------------------------------
# D8 flow ACCUMULATION — the hydrology step after flow direction
# (O'Callaghan-Mark 1984; ESRI Flow Accumulation): per cell, the
# number of upstream cells whose flow path drains through it. The
# flow graph has out-degree <= 1 and strictly-descending elevations
# along every edge (drop6 > 0 ⟹ z strictly decreases), so it is an
# acyclic functional forest and the closure is well-defined.
#
# Spark plan: the REAL halo-tiled focal kernel produces flow_dir
# (same plan as raster_d8_flow), a projection maps direction codes to
# (dx, dy) and keeps only in-grid targets (border cells whose
# steepest clamped drop points off-grid drain off the map), then
# operators/graphs.functional_closure builds every
# (upstream, downstream) pair by POINTER DOUBLING — ceil(log2 L)
# rounds (6 for this field's 53-step longest path) instead of the
# L-round per-hop wavefront — and one count-by-target aggregation
# yields the accumulation. All integers end-to-end: cell ids are
# x*64+y, the count is exact; the only float work is inside the
# already-hash-proven flow-direction kernel.
#
# Oracle: DuckDB recomputes flow_dir from the closed-form clamped
# field (the raster_d8_flow oracle, verbatim CTEs) and walks the
# closure with a recursive CTE — per-hop, fine at oracle scale; the
# doubling operator is the 100 TB shape.
def _sql_d8_flow_accum() -> str:
    def z(xx: str, yy: str) -> str:
        cx = f"least(greatest({xx}, 0), 63)"
        cy = f"least(greatest({yy}, 0), 63)"
        return (
            f"(sin(CAST({cx} AS DOUBLE) / 10.0) * 40.0"
            f" + cos(CAST({cy} AS DOUBLE) / 12.0) * 40.0 + 100.0"
            f" + CASE WHEN (CAST({cx} AS DOUBLE) - 35.0) * (CAST({cx} AS DOUBLE) - 35.0)"
            f"        + (CAST({cy} AS DOUBLE) - 30.0) * (CAST({cy} AS DOUBLE) - 30.0)"
            f"        < 400.0 THEN 80.0 ELSE 0.0 END)"
        )

    raw = f"(({z('p.x', 'p.y')}) - ({z('p.x + d.dx', 'p.y + d.dy')})) / d.dist"
    return f"""
    WITH RECURSIVE px AS (
      SELECT x.i AS x, y.i AS y
      FROM unnest(generate_series(0, 63)) AS x(i),
           unnest(generate_series(0, 63)) AS y(i)
    ),
    dirs(code, dy, dx, dist) AS (
      VALUES (1, 0, 1, 1.0), (2, 1, 1, sqrt(2.0)), (4, 1, 0, 1.0),
             (8, 1, -1, sqrt(2.0)), (16, 0, -1, 1.0),
             (32, -1, -1, sqrt(2.0)), (64, -1, 0, 1.0),
             (128, -1, 1, sqrt(2.0))
    ),
    drops AS (
      SELECT p.x, p.y, d.code,
             sign({raw}) * floor(abs({raw}) * 1000000.0 + 0.5)
               / 1000000.0 AS drop6
      FROM px p CROSS JOIN dirs d
    ),
    agg AS (SELECT x, y, MAX(drop6) AS mx FROM drops GROUP BY x, y),
    flow AS (
      SELECT a.x, a.y,
             CASE WHEN a.mx > 0
                  THEN (SELECT MIN(code) FROM drops dd
                        WHERE dd.x = a.x AND dd.y = a.y AND dd.drop6 = a.mx)
                  ELSE 0 END AS fd
      FROM agg a
    ),
    edges AS (
      SELECT f.x * 64 + f.y AS src,
             (f.x + d.dx) * 64 + (f.y + d.dy) AS dst
      FROM flow f JOIN dirs d ON d.code = f.fd
      WHERE f.fd > 0
        AND f.x + d.dx BETWEEN 0 AND 63
        AND f.y + d.dy BETWEEN 0 AND 63
    ),
    up AS (
      SELECT src, dst FROM edges
      UNION ALL
      SELECT u.src, e.dst FROM up u JOIN edges e ON e.src = u.dst
    ),
    acc AS (SELECT dst, COUNT(*) AS c FROM up GROUP BY dst)
    SELECT CAST(p.x AS INT) AS x, CAST(p.y AS INT) AS y,
           CAST(COALESCE(a.c, 0) AS BIGINT) AS flow_acc
    FROM px p LEFT JOIN acc a ON a.dst = p.x * 64 + p.y
    ORDER BY x, y
    """


@_q("d8_flow_accumulation", _sql_d8_flow_accum())
def q_d8_flow_accumulation(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.graphs import functional_closure
    from ..raster.kernels import d8_flow_tiles
    from ..raster.tiles import halo_duplicate, synthetic_raster

    img = synthetic_raster(spark, 64, 64, bands=1)
    tiled = halo_duplicate(img, tile_size=32, halo=1)
    # the focal kernel is the expensive subtree and feeds both the edge
    # derivation and the output grid — materialize it once
    flow = d8_flow_tiles(tiled, "b1").localCheckpoint(eager=False)
    dx = (
        "CASE flow_dir WHEN 1 THEN 1 WHEN 2 THEN 1 WHEN 128 THEN 1 "
        "WHEN 8 THEN -1 WHEN 16 THEN -1 WHEN 32 THEN -1 ELSE 0 END"
    )
    dy = (
        "CASE flow_dir WHEN 2 THEN 1 WHEN 4 THEN 1 WHEN 8 THEN 1 "
        "WHEN 32 THEN -1 WHEN 64 THEN -1 WHEN 128 THEN -1 ELSE 0 END"
    )
    edges = (
        flow.filter(F.col("flow_dir") > 0)
        .select(
            (F.col("x") * 64 + F.col("y")).alias("src"),
            ((F.col("x") + F.expr(dx)) * 64 + (F.col("y") + F.expr(dy))).alias(
                "dst"
            ),
            (F.col("x") + F.expr(dx)).alias("_tx"),
            (F.col("y") + F.expr(dy)).alias("_ty"),
        )
        .filter(F.col("_tx").between(0, 63) & F.col("_ty").between(0, 63))
        .select("src", "dst")
    )
    acc = functional_closure(edges).groupBy("dst").agg(
        F.count(F.lit(1)).alias("_c")
    )
    return (
        flow.select(
            F.col("x").cast("int").alias("x"),
            F.col("y").cast("int").alias("y"),
            (F.col("x") * 64 + F.col("y")).alias("_id"),
        )
        .join(acc, F.col("_id") == F.col("dst"), "left")
        .select(
            "x",
            "y",
            F.coalesce(F.col("_c"), F.lit(0)).cast("bigint").alias("flow_acc"),
        )
        .orderBy("x", "y")
    )


# ---------------------------------------------------------------------------
# Horn slope / aspect / hillshade through the REAL halo-tile focal
# path (raster/kernels.terrain_tiles) — the classic DEM kernel, hash-
# checked against a closed-form-field oracle exactly like
# raster_d8_flow: the oracle recomputes every edge-clamped 3x3
# neighbor elevation from the synthetic field and applies the
# identical Horn expression tree (dzdx/dzdy sums, atan/sqrt/atan2,
# the ArcGIS aspect CASE cascade, the hillshade clip), so both sides
# evaluate the same IEEE expressions and the round(,6) outputs match
# bit-for-bit. Tile-origin invariance of the kernel itself is pinned
# separately by tests/test_terrain.py; this row proves the halo path
# END-TO-END on the driver's differential check.
def _sql_terrain_slope() -> str:
    def z(xx: str, yy: str) -> str:
        cx = f"least(greatest({xx}, 0), 63)"
        cy = f"least(greatest({yy}, 0), 63)"
        return (
            f"(sin(CAST({cx} AS DOUBLE) / 10.0) * 40.0"
            f" + cos(CAST({cy} AS DOUBLE) / 12.0) * 40.0 + 100.0"
            f" + CASE WHEN (CAST({cx} AS DOUBLE) - 35.0) * (CAST({cx} AS DOUBLE) - 35.0)"
            f"        + (CAST({cy} AS DOUBLE) - 30.0) * (CAST({cy} AS DOUBLE) - 30.0)"
            f"        < 400.0 THEN 80.0 ELSE 0.0 END)"
        )

    return f"""
    WITH px AS (
      SELECT x.i AS x, y.i AS y
      FROM unnest(generate_series(0, 63)) AS x(i),
           unnest(generate_series(0, 63)) AS y(i)
    ),
    nb AS (
      SELECT x, y,
             {z('x - 1', 'y - 1')} AS za, {z('x', 'y - 1')} AS zb,
             {z('x + 1', 'y - 1')} AS zc, {z('x - 1', 'y')} AS zd,
             {z('x + 1', 'y')} AS zf, {z('x - 1', 'y + 1')} AS zg,
             {z('x', 'y + 1')} AS zh, {z('x + 1', 'y + 1')} AS zi
      FROM px
    ),
    grad AS (
      SELECT x, y,
             ((zc + 2 * zf + zi) - (za + 2 * zd + zg)) / 8.0 AS dzdx,
             ((zg + 2 * zh + zi) - (za + 2 * zb + zc)) / 8.0 AS dzdy
      FROM nb
    ),
    sl AS (
      SELECT x, y, dzdx, dzdy,
             dzdx * dzdx + dzdy * dzdy AS rise2,
             atan(sqrt(dzdx * dzdx + dzdy * dzdy)) AS slope_rad,
             degrees(atan2(dzdy, -dzdx)) AS asp0
      FROM grad
    ),
    asp AS (
      SELECT x, y, rise2, slope_rad,
             CASE WHEN rise2 = 0 THEN -1.0
                  WHEN asp0 < 0 THEN 90.0 - asp0
                  WHEN asp0 > 90.0 THEN 360.0 - asp0 + 90.0
                  ELSE 90.0 - asp0 END AS aspect
      FROM sl
    )
    SELECT CAST(x AS INT) AS x, CAST(y AS INT) AS y,
           round(degrees(slope_rad), 6) AS slope_deg,
           round(aspect, 6) AS aspect_deg,
           round(least(greatest(255.0 * (
               cos(radians(45.0)) * cos(slope_rad)
               + sin(radians(45.0)) * sin(slope_rad)
                 * cos(radians(135.0)
                       - CASE WHEN rise2 = 0 THEN 0.0
                         ELSE radians(360.0 - aspect + 90.0) END)
           ), 0.0), 255.0), 6) AS hillshade
    FROM asp ORDER BY x, y
    """


@_q("raster_slope_aspect", _sql_terrain_slope())
def q_raster_slope_aspect(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..raster.kernels import terrain_tiles
    from ..raster.tiles import halo_duplicate, synthetic_raster

    img = synthetic_raster(spark, 64, 64, bands=1)
    tiled = halo_duplicate(img, tile_size=32, halo=1)
    out = terrain_tiles(tiled, "b1")
    return out.select(
        "x",
        "y",
        F.round("slope_deg", 6).alias("slope_deg"),
        F.round("aspect_deg", 6).alias("aspect_deg"),
        F.round("hillshade", 6).alias("hillshade"),
    ).orderBy("x", "y")


# ---------------------------------------------------------------------------
# Tile-pyramid (overview) build as HIERARCHICAL aggregation: level
# k+1 is computed FROM level k (2x2 mean downsample per step), the
# way map-tile / COG overview pipelines actually build pyramids —
# one bounded shuffle per level, each level 4x smaller, total work a
# geometric series dominated by the base read. The oracle computes
# every level DIRECTLY from the base via 2^k-block grouping, so the
# hash match proves hierarchical mean-of-means == direct block mean.
# Exactness: pixel values enter as round(,6) micros (exact BIGINT);
# each level carries (micro_sum, n_px) pairs — sums of sums are
# exact, so "mean of means" is not the usual lossy shortcut here;
# per-cell means divide ONCE into double for the min/max stats.
_PYR_LEVELS = 3


def _sql_tile_pyramid() -> str:
    fld = (
        "(sin(CAST(x AS DOUBLE) / 10.0) * 40.0"
        " + cos(CAST(y AS DOUBLE) / 12.0) * 40.0 + 100.0"
        " + CASE WHEN (CAST(x AS DOUBLE) - 35.0) * (CAST(x AS DOUBLE) - 35.0)"
        "        + (CAST(y AS DOUBLE) - 30.0) * (CAST(y AS DOUBLE) - 30.0)"
        "        < 400.0 THEN 80.0 ELSE 0.0 END)"
    )
    levels = []
    for k in range(_PYR_LEVELS + 1):
        blk = 1 << k
        levels.append(
            f"""SELECT {k} AS level, COUNT(*) AS n_cells,
           CAST(SUM(s) AS BIGINT) AS micro_checksum,
           round(MIN(CAST(s AS DOUBLE) / n / 1000000.0), 6) AS min_cell_mean,
           round(MAX(CAST(s AS DOUBLE) / n / 1000000.0), 6) AS max_cell_mean,
           round(CAST(SUM(s) AS DOUBLE) / SUM(n) / 1000000.0, 6)
             AS global_mean
    FROM (
      SELECT x // {blk} AS cx, y // {blk} AS cy,
             SUM(v) AS s, COUNT(*) AS n
      FROM base GROUP BY 1, 2
    )"""
        )
    u = "\n    UNION ALL ".join(levels)
    return f"""
    WITH base AS (
      SELECT x.i AS x, y.i AS y,
             CAST(round(round({fld.replace('x', 'x.i').replace('y', 'y.i')}, 6)
                        * 1000000.0, 0) AS BIGINT) AS v
      FROM unnest(generate_series(0, 63)) AS x(i),
           unnest(generate_series(0, 63)) AS y(i)
    )
    SELECT * FROM ({u}) ORDER BY level
    """


@_q("raster_tile_pyramid", _sql_tile_pyramid())
def q_raster_tile_pyramid(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..raster.tiles import synthetic_raster

    px = synthetic_raster(spark, 64, 64, bands=1)
    lvl = px.select(
        "x",
        "y",
        F.round(F.round("b1", 6) * 1000000.0, 0).cast("bigint").alias("s"),
        F.lit(1).cast("bigint").alias("n"),
    )

    def _stats(k: int, cells: DataFrame) -> DataFrame:
        mean = F.col("s").cast("double") / F.col("n") / 1000000.0
        return cells.agg(
            F.lit(k).cast("int").alias("level"),
            F.count(F.lit(1)).alias("n_cells"),
            F.sum("s").cast("bigint").alias("micro_checksum"),
            F.round(F.min(mean), 6).alias("min_cell_mean"),
            F.round(F.max(mean), 6).alias("max_cell_mean"),
            F.round(
                F.sum("s").cast("double") / F.sum("n") / 1000000.0, 6
            ).alias("global_mean"),
        )

    snaps = [_stats(0, lvl)]
    for k in range(1, _PYR_LEVELS + 1):
        # the genuine pyramid step: level k built FROM level k-1
        lvl = (
            lvl.groupBy(
                (F.col("x") / 2).cast("int").alias("x"),
                (F.col("y") / 2).cast("int").alias("y"),
            )
            .agg(F.sum("s").alias("s"), F.sum("n").alias("n"))
            .localCheckpoint(eager=True)
        )
        snaps.append(_stats(k, lvl))
    from functools import reduce

    return reduce(lambda a, b: a.unionByName(b), snaps).orderBy("level")


# ---------------------------------------------------------------------------
# Viewshed on the 1-D scanline simplification: an observer at x = 0 of
# each row sees cell x iff the elevation angle (z(x) - z(0)) / x
# strictly exceeds every intermediate cell's angle — i.e. iff the
# RUNNING MAX of angles over (0, x) is below the cell's own angle.
# That prefix-max formulation turns the classic O(n^2) line-of-sight
# loop into ONE ordered window per row — the same "closed-form
# unroll" trick as CUSUM/Holt, applied to terrain visibility. FP
# seam: elevations enter as exact round(,6) micros, each angle is ONE
# integer-ratio division (identical IEEE result in both engines), and
# the window max compares those deterministic doubles — no rounding
# needed anywhere. Output: per-row visibility profile (n visible,
# furthest visible cell, steepest angle).
def _sql_viewshed() -> str:
    fld = (
        "(sin(CAST(x AS DOUBLE) / 10.0) * 40.0"
        " + cos(CAST(y AS DOUBLE) / 12.0) * 40.0 + 100.0"
        " + CASE WHEN (CAST(x AS DOUBLE) - 35.0) * (CAST(x AS DOUBLE) - 35.0)"
        "        + (CAST(y AS DOUBLE) - 30.0) * (CAST(y AS DOUBLE) - 30.0)"
        "        < 400.0 THEN 80.0 ELSE 0.0 END)"
    )
    return f"""
    WITH px AS (
      SELECT x.i AS x, y.i AS y,
             CAST(round(round({fld.replace('(x ', '(x.i ').replace('(y ', '(y.i ')
                               .replace('(CAST(x AS', '(CAST(x.i AS')
                               .replace('(CAST(y AS', '(CAST(y.i AS')}, 6)
                        * 1000000.0, 0) AS BIGINT) AS zmu
      FROM unnest(generate_series(0, 63)) AS x(i),
           unnest(generate_series(0, 63)) AS y(i)
    ),
    ang AS (
      SELECT p.y, p.x,
             CAST(p.zmu - o.zmu AS DOUBLE) / p.x AS angle
      FROM px p JOIN px o ON o.y = p.y AND o.x = 0
      WHERE p.x >= 1
    ),
    vis AS (
      SELECT y, x, angle,
             MAX(angle) OVER (PARTITION BY y ORDER BY x
                              ROWS BETWEEN UNBOUNDED PRECEDING
                              AND 1 PRECEDING) AS prior_max
      FROM ang
    )
    SELECT CAST(y AS INT) AS y,
           CAST(COUNT(*) FILTER (prior_max IS NULL OR angle > prior_max)
                AS BIGINT) AS n_visible,
           CAST(MAX(x) FILTER (prior_max IS NULL OR angle > prior_max)
                AS INT) AS furthest_visible,
           round(MAX(angle) / 1000000.0, 6) AS steepest_angle
    FROM vis GROUP BY y ORDER BY y
    """


@_q("raster_viewshed_scanline", _sql_viewshed())
def q_raster_viewshed_scanline(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from ..raster.tiles import synthetic_raster

    px = synthetic_raster(spark, 64, 64, bands=1).select(
        "x",
        "y",
        F.round(F.round("b1", 6) * 1000000.0, 0).cast("bigint").alias("zmu"),
    )
    o = px.where(F.col("x") == 0).select(
        F.col("y").alias("o_y"), F.col("zmu").alias("o_zmu")
    )
    ang = (
        px.where(F.col("x") >= 1)
        .join(F.broadcast(o), F.col("y") == F.col("o_y"))
        .select(
            "y",
            "x",
            (
                (F.col("zmu") - F.col("o_zmu")).cast("double") / F.col("x")
            ).alias("angle"),
        )
    )
    w = (
        Window.partitionBy("y")
        .orderBy("x")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    vis = ang.select(
        "y", "x", "angle", F.max("angle").over(w).alias("prior_max")
    )
    visible = F.col("prior_max").isNull() | (
        F.col("angle") > F.col("prior_max")
    )
    return (
        vis.groupBy(F.col("y").cast("int").alias("y"))
        .agg(
            F.count(F.when(visible, 1)).cast("bigint").alias("n_visible"),
            F.max(F.when(visible, F.col("x"))).cast("int").alias(
                "furthest_visible"
            ),
            F.round(F.max("angle") / 1000000.0, 6).alias("steepest_angle"),
        )
        .orderBy("y")
    )


# ---------------------------------------------------------------------------
# Areal interpolation (area-weighted zonal reaggregation): transfer a
# measure from one zone system (aligned 16px grid) onto a SHIFTED
# zone system (offset by 8px) using exact rectangle-overlap weights —
# the GIS operation behind census-tract -> service-area reporting.
# est(target) = Σ_src value(src) * area(src ∩ target) / area(src).
# Every overlap is an axis-aligned rect intersection on the integer
# lattice (max(0, min(hi) - max(lo)) per axis — exact BIGINTs), and
# the field values enter as round(,6) micros, so the only float is
# the final division. The report carries the TRUE target value
# (direct pixel aggregation) next to the estimate — the
# interpolation-error audit, measured not assumed. Plan: each target
# zone derives its <= 4 candidate source zones ROW-LOCALLY (explode
# of the 2x2 corner offsets), one equi-join on source zone id —
# never zones x zones.
_AREAL_SRC = 16  # source zone size
_AREAL_OFF = 8  # target grid offset


def _sql_areal_interpolation() -> str:
    fld = (
        "(sin(CAST(x AS DOUBLE) / 10.0) * 40.0"
        " + cos(CAST(y AS DOUBLE) / 12.0) * 40.0 + 100.0"
        " + CASE WHEN (CAST(x AS DOUBLE) - 35.0) * (CAST(x AS DOUBLE) - 35.0)"
        "        + (CAST(y AS DOUBLE) - 30.0) * (CAST(y AS DOUBLE) - 30.0)"
        "        < 400.0 THEN 80.0 ELSE 0.0 END)"
    )
    s, o = _AREAL_SRC, _AREAL_OFF
    return f"""
    WITH px AS (
      SELECT x.i AS x, y.i AS y,
             CAST(round(round({fld.replace('(x ', '(x.i ').replace('(y ', '(y.i ')
                               .replace('(CAST(x AS', '(CAST(x.i AS')
                               .replace('(CAST(y AS', '(CAST(y.i AS')}, 6)
                        * 1000000.0, 0) AS BIGINT) AS v
      FROM unnest(generate_series(0, 63)) AS x(i),
           unnest(generate_series(0, 63)) AS y(i)
    ),
    src AS (
      SELECT x // {s} AS sx, y // {s} AS sy,
             SUM(v) AS sval, COUNT(*) AS sarea
      FROM px GROUP BY 1, 2
    ),
    tgt_true AS (
      SELECT (x + {o}) // {s} AS tx, (y + {o}) // {s} AS ty,
             SUM(v) AS tval
      FROM px GROUP BY 1, 2
    ),
    cand AS (
      SELECT t.tx, t.ty, t.tx - dx.i AS sx, t.ty - dy.i AS sy
      FROM (SELECT DISTINCT tx, ty FROM tgt_true) t,
           unnest(generate_series(0, 1)) AS dx(i),
           unnest(generate_series(0, 1)) AS dy(i)
    ),
    weighted AS (
      SELECT c.tx, c.ty, s.sval, s.sarea,
             GREATEST(0, LEAST((c.sx + 1) * {s}, c.tx * {s} - {o} + {s}, 64)
                         - GREATEST(c.sx * {s}, c.tx * {s} - {o}, 0))
             * GREATEST(0, LEAST((c.sy + 1) * {s}, c.ty * {s} - {o} + {s}, 64)
                           - GREATEST(c.sy * {s}, c.ty * {s} - {o}, 0))
               AS ov
      FROM cand c JOIN src s ON s.sx = c.sx AND s.sy = c.sy
    )
    SELECT CAST(w.tx AS BIGINT) AS tx, CAST(w.ty AS BIGINT) AS ty,
           round(CAST(t.tval AS DOUBLE) / 1000000.0, 6) AS true_value,
           round(SUM(CAST(w.sval AS DOUBLE) * w.ov / w.sarea)
                 / 1000000.0, 6) AS est_value,
           round((SUM(CAST(w.sval AS DOUBLE) * w.ov / w.sarea)
                  - t.tval) / 1000000.0, 6) AS err
    FROM weighted w
    JOIN tgt_true t ON t.tx = w.tx AND t.ty = w.ty
    WHERE w.ov > 0
    GROUP BY w.tx, w.ty, t.tval
    ORDER BY tx, ty
    """


@_q("areal_interpolation", _sql_areal_interpolation())
def q_areal_interpolation(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..raster.tiles import synthetic_raster

    s, o = _AREAL_SRC, _AREAL_OFF
    px = synthetic_raster(spark, 64, 64, bands=1).select(
        "x",
        "y",
        F.round(F.round("b1", 6) * 1000000.0, 0).cast("bigint").alias("v"),
    )
    src = px.groupBy(
        F.expr(f"x div {s}").alias("sx"), F.expr(f"y div {s}").alias("sy")
    ).agg(F.sum("v").alias("sval"), F.count(F.lit(1)).alias("sarea"))
    tgt_true = px.groupBy(
        F.expr(f"(x + {o}) div {s}").alias("tx"),
        F.expr(f"(y + {o}) div {s}").alias("ty"),
    ).agg(F.sum("v").alias("tval"))
    d = F.explode(
        F.expr(
            "flatten(transform(sequence(0, 1),"
            " dx -> transform(sequence(0, 1),"
            " dy -> struct(dx AS dx, dy AS dy))))"
        )
    ).alias("d")
    cand = (
        tgt_true.select("tx", "ty")
        .distinct()
        .select("tx", "ty", d)
        .select(
            "tx",
            "ty",
            (F.col("tx") - F.col("d.dx")).alias("sx"),
            (F.col("ty") - F.col("d.dy")).alias("sy"),
        )
    )
    ovx = F.greatest(
        F.lit(0),
        F.least(
            (F.col("sx") + 1) * s, F.col("tx") * s - o + s, F.lit(64)
        )
        - F.greatest(F.col("sx") * s, F.col("tx") * s - o, F.lit(0)),
    )
    ovy = F.greatest(
        F.lit(0),
        F.least(
            (F.col("sy") + 1) * s, F.col("ty") * s - o + s, F.lit(64)
        )
        - F.greatest(F.col("sy") * s, F.col("ty") * s - o, F.lit(0)),
    )
    weighted = cand.join(src, ["sx", "sy"]).select(
        "tx", "ty", "sval", "sarea", (ovx * ovy).alias("ov")
    )
    est = F.sum(
        F.col("sval").cast("double") * F.col("ov") / F.col("sarea")
    )
    return (
        weighted.where(F.col("ov") > 0)
        .join(tgt_true, ["tx", "ty"])
        .groupBy(
            F.col("tx").cast("bigint").alias("tx"),
            F.col("ty").cast("bigint").alias("ty"),
            "tval",
        )
        .agg(
            F.round(F.col("tval").cast("double") / 1000000.0, 6).alias(
                "true_value"
            ),
            F.round(est / 1000000.0, 6).alias("est_value"),
            F.round((est - F.col("tval")) / 1000000.0, 6).alias("err"),
        )
        .drop("tval")
        .orderBy("tx", "ty")
    )


# ---------------------------------------------------------------------------
# Morphological opening + white top-hat through the REAL halo-tile
# path — chained 3×3 erosion→dilation computed in ONE halo pass
# (halo=2: the composed stencil radius), proving kernel composition
# without a second shuffle. Hash-exact: the field enters on the
# round(,6) lattice and min/max only SELECT lattice members, and
# replicate-pad equals window∩image for min/max (clamping only
# duplicates in-bounds values). The oracle recomputes both stages
# from the closed-form field with offset equi-joins (out-of-bounds
# neighbors drop out of the join — the same window∩image semantics).
def _sql_morphology_open() -> str:
    fld = (
        "(sin(CAST(x.i AS DOUBLE) / 10.0) * 40.0"
        " + cos(CAST(y.i AS DOUBLE) / 12.0) * 40.0 + 100.0"
        " + CASE WHEN (CAST(x.i AS DOUBLE) - 35.0) * (CAST(x.i AS DOUBLE) - 35.0)"
        "        + (CAST(y.i AS DOUBLE) - 30.0) * (CAST(y.i AS DOUBLE) - 30.0)"
        "        < 400.0 THEN 80.0 ELSE 0.0 END)"
    )
    return f"""
    WITH px AS MATERIALIZED (
      SELECT x.i AS x, y.i AS y, round({fld}, 6) AS v6
      FROM unnest(generate_series(0, 63)) AS x(i),
           unnest(generate_series(0, 63)) AS y(i)
    ),
    offs AS (
      SELECT dx.i AS dx, dy.i AS dy
      FROM unnest(generate_series(-1, 1)) AS dx(i),
           unnest(generate_series(-1, 1)) AS dy(i)
    ),
    eroded AS MATERIALIZED (
      SELECT p.x, p.y, MIN(q.v6) AS e6
      FROM px p CROSS JOIN offs o
      JOIN px q ON q.x = p.x + o.dx AND q.y = p.y + o.dy
      GROUP BY p.x, p.y
    ),
    opened AS (
      SELECT p.x, p.y, MAX(q.e6) AS o6
      FROM px p CROSS JOIN offs o
      JOIN eroded q ON q.x = p.x + o.dx AND q.y = p.y + o.dy
      GROUP BY p.x, p.y
    )
    SELECT CAST(o.x AS INT) AS x, CAST(o.y AS INT) AS y,
           o.o6 AS opened, round(p.v6 - o.o6, 6) AS tophat
    FROM opened o JOIN px p ON p.x = o.x AND p.y = o.y
    ORDER BY x, y
    """


@_q("raster_morphology_open", _sql_morphology_open())
def q_raster_morphology_open(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..raster.kernels import morphology_open_tiles
    from ..raster.tiles import halo_duplicate, synthetic_raster

    img = synthetic_raster(spark, 64, 64, bands=1)
    tiled = halo_duplicate(img, tile_size=32, halo=2)
    return morphology_open_tiles(tiled, "b1").orderBy("x", "y")


# ---------------------------------------------------------------------------
# D8 WATERSHED BASINS (r13) — the third op of the hydrology trio
# (direction -> accumulation -> basins): label every cell with the
# SINK its steepest-descent path terminates at; a basin is the set of
# cells draining to one sink (border cells whose steepest drop points
# off-grid are their own sinks — they drain off the map). The flow
# graph is the same strictly-descending functional forest as
# d8_flow_accumulation, so each cell has exactly one terminal.
# Spark: one functional_closure (pointer doubling, O(log L) rounds),
# identity pairs unioned in, terminals selected with an anti-join
# against edge sources, then a count-by-sink. The DuckDB twin walks
# per-hop with a recursive CTE and takes the rows whose current cell
# has no outgoing edge — different algorithm, identical labels.
# 100 TB: basins are the partition-by key every downstream zonal
# product wants; the closure is the proven log-round primitive.
def _sql_d8_watershed() -> str:
    def z(xx: str, yy: str) -> str:
        cx = f"least(greatest({xx}, 0), 63)"
        cy = f"least(greatest({yy}, 0), 63)"
        return (
            f"(sin(CAST({cx} AS DOUBLE) / 10.0) * 40.0"
            f" + cos(CAST({cy} AS DOUBLE) / 12.0) * 40.0 + 100.0"
            f" + CASE WHEN (CAST({cx} AS DOUBLE) - 35.0) * (CAST({cx} AS DOUBLE) - 35.0)"
            f"        + (CAST({cy} AS DOUBLE) - 30.0) * (CAST({cy} AS DOUBLE) - 30.0)"
            f"        < 400.0 THEN 80.0 ELSE 0.0 END)"
        )

    raw = f"(({z('p.x', 'p.y')}) - ({z('p.x + d.dx', 'p.y + d.dy')})) / d.dist"
    return f"""
    WITH RECURSIVE px AS (
      SELECT x.i AS x, y.i AS y
      FROM unnest(generate_series(0, 63)) AS x(i),
           unnest(generate_series(0, 63)) AS y(i)
    ),
    dirs(code, dy, dx, dist) AS (
      VALUES (1, 0, 1, 1.0), (2, 1, 1, sqrt(2.0)), (4, 1, 0, 1.0),
             (8, 1, -1, sqrt(2.0)), (16, 0, -1, 1.0),
             (32, -1, -1, sqrt(2.0)), (64, -1, 0, 1.0),
             (128, -1, 1, sqrt(2.0))
    ),
    drops AS (
      SELECT p.x, p.y, d.code,
             sign({raw}) * floor(abs({raw}) * 1000000.0 + 0.5)
               / 1000000.0 AS drop6
      FROM px p CROSS JOIN dirs d
    ),
    agg AS (SELECT x, y, MAX(drop6) AS mx FROM drops GROUP BY x, y),
    flow AS (
      SELECT a.x, a.y,
             CASE WHEN a.mx > 0
                  THEN (SELECT MIN(code) FROM drops dd
                        WHERE dd.x = a.x AND dd.y = a.y AND dd.drop6 = a.mx)
                  ELSE 0 END AS fd
      FROM agg a
    ),
    edges AS (
      SELECT f.x * 64 + f.y AS src,
             (f.x + d.dx) * 64 + (f.y + d.dy) AS dst
      FROM flow f JOIN dirs d ON d.code = f.fd
      WHERE f.fd > 0
        AND f.x + d.dx BETWEEN 0 AND 63
        AND f.y + d.dy BETWEEN 0 AND 63
    ),
    walk(src, cur) AS (
      SELECT p.x * 64 + p.y, p.x * 64 + p.y FROM px p
      UNION ALL
      SELECT w.src, e.dst FROM walk w JOIN edges e ON e.src = w.cur
    ),
    term AS (
      SELECT src, cur FROM walk
      WHERE cur NOT IN (SELECT src FROM edges)
    )
    SELECT CAST(cur // 64 AS INT) AS basin_x,
           CAST(cur % 64 AS INT) AS basin_y,
           CAST(COUNT(*) AS BIGINT) AS n_cells
    FROM term GROUP BY 1, 2 ORDER BY basin_x, basin_y
    """


@_q("d8_watershed_basins", _sql_d8_watershed())
def q_d8_watershed_basins(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.graphs import functional_closure
    from ..raster.kernels import d8_flow_tiles
    from ..raster.tiles import halo_duplicate, synthetic_raster

    img = synthetic_raster(spark, 64, 64, bands=1)
    tiled = halo_duplicate(img, tile_size=32, halo=1)
    flow = d8_flow_tiles(tiled, "b1").localCheckpoint(eager=False)
    dx = (
        "CASE flow_dir WHEN 1 THEN 1 WHEN 2 THEN 1 WHEN 128 THEN 1 "
        "WHEN 8 THEN -1 WHEN 16 THEN -1 WHEN 32 THEN -1 ELSE 0 END"
    )
    dy = (
        "CASE flow_dir WHEN 2 THEN 1 WHEN 4 THEN 1 WHEN 8 THEN 1 "
        "WHEN 32 THEN -1 WHEN 64 THEN -1 WHEN 128 THEN -1 ELSE 0 END"
    )
    edges = (
        flow.filter(F.col("flow_dir") > 0)
        .select(
            (F.col("x") * 64 + F.col("y")).alias("src"),
            ((F.col("x") + F.expr(dx)) * 64 + (F.col("y") + F.expr(dy))).alias(
                "dst"
            ),
            (F.col("x") + F.expr(dx)).alias("_tx"),
            (F.col("y") + F.expr(dy)).alias("_ty"),
        )
        .filter(F.col("_tx").between(0, 63) & F.col("_ty").between(0, 63))
        .select("src", "dst")
        .localCheckpoint(eager=False)  # feeds closure + terminal anti-join
    )
    ids = flow.select((F.col("x") * 64 + F.col("y")).alias("src"))
    allpairs = functional_closure(edges).unionByName(
        ids.select("src", F.col("src").alias("dst"))
    )
    srcs = edges.select("src").distinct()
    basins = allpairs.join(
        srcs, allpairs["dst"] == srcs["src"], "left_anti"
    )
    return (
        basins.groupBy("dst")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_cells"))
        .select(
            F.expr("dst div 64").cast("int").alias("basin_x"),
            (F.col("dst") % 64).cast("int").alias("basin_y"),
            "n_cells",
        )
        .orderBy("basin_x", "basin_y")
    )


# ---------------------------------------------------------------------------
# Chebyshev (L-inf) distance transform: every pixel's distance to the
# nearest FEATURE pixel (round(,6) field > 170 — the disk blob plus
# ridge peaks), reported as a distance histogram. The scale plan is
# SEPARABLE, not a pair join: pass 1 gets the vertical distance per
# column with two running-extreme windows (nearest feature row above
# = cummax of feature y, below = reverse cummin — one shuffle on x);
# pass 2 combines along rows, d(x,y) = min over x' of
# max(|x-x'|, dcol(x',y)), an equi-join on y whose width is the row
# length — O(W) candidates per pixel, bounded by the tile width at
# cluster scale, never the quadratic all-pairs the naive form needs.
# All distances are integers — exact. The oracle is the genuinely
# different algorithm: brute-force min over the pixel x feature join.
def _sql_distance_transform() -> str:
    fld = (
        "(sin(CAST(x.i AS DOUBLE) / 10.0) * 40.0"
        " + cos(CAST(y.i AS DOUBLE) / 12.0) * 40.0 + 100.0"
        " + CASE WHEN (CAST(x.i AS DOUBLE) - 35.0) * (CAST(x.i AS DOUBLE) - 35.0)"
        "        + (CAST(y.i AS DOUBLE) - 30.0) * (CAST(y.i AS DOUBLE) - 30.0)"
        "        < 400.0 THEN 80.0 ELSE 0.0 END)"
    )
    return f"""
    WITH px AS MATERIALIZED (
      SELECT x.i AS x, y.i AS y, round({fld}, 6) AS v6
      FROM unnest(generate_series(0, 63)) AS x(i),
           unnest(generate_series(0, 63)) AS y(i)
    ),
    feat AS MATERIALIZED (SELECT x, y FROM px WHERE v6 > 170.0),
    dt AS (
      SELECT p.x, p.y,
             MIN(greatest(abs(p.x - f.x), abs(p.y - f.y))) AS d
      FROM px p CROSS JOIN feat f
      GROUP BY p.x, p.y
    )
    SELECT CAST(d AS BIGINT) AS chebyshev_dist,
           CAST(COUNT(*) AS BIGINT) AS n_cells
    FROM dt GROUP BY d ORDER BY chebyshev_dist
    """


@_q("distance_transform_chebyshev", _sql_distance_transform())
def q_distance_transform_chebyshev(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..raster.tiles import synthetic_raster

    px = synthetic_raster(spark, 64, 64, bands=1).select(
        "x", "y", F.round(F.col("b1"), 6).alias("v6")
    )
    feat_y = F.when(F.col("v6") > 170.0, F.col("y"))
    w_up = (
        Window.partitionBy("x")
        .orderBy("y")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    w_dn = (
        Window.partitionBy("x")
        .orderBy("y")
        .rowsBetween(0, Window.unboundedFollowing)
    )
    vert = px.select(
        "x",
        "y",
        F.least(
            F.col("y") - F.max(feat_y).over(w_up),
            F.min(feat_y).over(w_dn) - F.col("y"),
        ).alias("dcol"),
    )
    cand = vert.where(F.col("dcol").isNotNull()).select(
        F.col("x").alias("cx"), F.col("y").alias("cy"), "dcol"
    )
    dt = (
        px.select("x", "y")
        .join(cand, F.col("cy") == F.col("y"))
        .groupBy("x", "y")
        .agg(
            F.min(
                F.greatest(F.abs(F.col("x") - F.col("cx")), F.col("dcol"))
            ).alias("d")
        )
    )
    return (
        dt.groupBy(F.col("d").cast("bigint").alias("chebyshev_dist"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_cells"))
        .orderBy("chebyshev_dist")
    )
