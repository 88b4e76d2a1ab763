"""Spatial queries over WKT geometry columns — the GeoParquet-style
surface (geometry as WKT + property columns). Rectangle-tier
operations are pure Catalyst expressions, so they're oracle-checkable;
the general pandas-UDF area is cross-checked against the closed form
on rectangles (rows-only + pytest identity).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.geometry import (
    rect_area_expr,
    rect_centroid_x_expr,
    rect_centroid_y_expr,
    rect_perimeter_expr,
    wkt_polygon_area,
)
from ._util import t, registry

QUERIES, ORACLES, _q = registry()

# DuckDB-side rectangle-corner regexp (same shape as functions/geometry._RECT_RE)
_SQL_RECT_RE = (
    "'POLYGON\\(\\((-?\\d+(?:\\.\\d+)?) (-?\\d+(?:\\.\\d+)?), "
    "(-?\\d+(?:\\.\\d+)?) (-?\\d+(?:\\.\\d+)?), "
    "(-?\\d+(?:\\.\\d+)?) (-?\\d+(?:\\.\\d+)?)'"
)

# derived WKT rectangles from part: cell origin on a 32-grid, size from
# p_size — the SQL twin builds the identical string
_SQL_RECTS = """
    SELECT p_partkey AS rect_id,
           'POLYGON((' || CAST(p_partkey % 32 AS VARCHAR) || ' ' || CAST(p_partkey % 24 AS VARCHAR)
           || ', ' || CAST(p_partkey % 32 + p_size AS VARCHAR) || ' ' || CAST(p_partkey % 24 AS VARCHAR)
           || ', ' || CAST(p_partkey % 32 + p_size AS VARCHAR) || ' ' || CAST(p_partkey % 24 + p_size AS VARCHAR)
           || ', ' || CAST(p_partkey % 32 AS VARCHAR) || ' ' || CAST(p_partkey % 24 + p_size AS VARCHAR)
           || ', ' || CAST(p_partkey % 32 AS VARCHAR) || ' ' || CAST(p_partkey % 24 AS VARCHAR) || '))' AS geometry
    FROM part
"""

_SQL_POINTS = """
    SELECT c_custkey AS point_id,
           CAST(c_custkey % 40 AS DOUBLE) AS px,
           CAST(c_custkey % 30 AS DOUBLE) AS py
    FROM customer
"""


def _rects(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = t(spark, sf_dir, "part")
    sx = (F.col("p_partkey") % 32).cast("int").cast("string")
    sy = (F.col("p_partkey") % 24).cast("int").cast("string")
    ex = (F.col("p_partkey") % 32 + F.col("p_size")).cast("int").cast("string")
    ey = (F.col("p_partkey") % 24 + F.col("p_size")).cast("int").cast("string")
    wkt = F.concat(
        F.lit("POLYGON(("),
        sx, F.lit(" "), sy, F.lit(", "),
        ex, F.lit(" "), sy, F.lit(", "),
        ex, F.lit(" "), ey, F.lit(", "),
        sx, F.lit(" "), ey, F.lit(", "),
        sx, F.lit(" "), sy,
        F.lit("))"),
    )
    return part.select(F.col("p_partkey").alias("rect_id"), wkt.alias("geometry"))


def _points(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = t(spark, sf_dir, "customer")
    return cust.select(
        F.col("c_custkey").alias("point_id"),
        (F.col("c_custkey") % 40).cast("double").alias("px"),
        (F.col("c_custkey") % 30).cast("double").alias("py"),
    )


# ---------------------------------------------------------------------------
# Geometry scalars on the rectangle tier: area/perimeter/centroid from
# WKT via pure Catalyst regexp expressions.
@_q(
    "geometry_scalars",
    f"""
    WITH rects AS ({_SQL_RECTS}),
    parsed AS (
      SELECT rect_id,
             CAST(regexp_extract(geometry, {_SQL_RECT_RE}, 1) AS DOUBLE) AS x0,
             CAST(regexp_extract(geometry, {_SQL_RECT_RE}, 2) AS DOUBLE) AS y0,
             CAST(regexp_extract(geometry, {_SQL_RECT_RE}, 3) AS DOUBLE) AS x1,
             CAST(regexp_extract(geometry, {_SQL_RECT_RE}, 6) AS DOUBLE) AS y1
      FROM rects
    )
    SELECT rect_id,
           (x1 - x0) * (y1 - y0) AS area,
           2.0 * ((x1 - x0) + (y1 - y0)) AS perimeter,
           (x0 + x1) / 2.0 AS cx,
           (y0 + y1) / 2.0 AS cy
    FROM parsed
    """,
)
def q_geometry_scalars(spark: SparkSession, sf_dir: str) -> DataFrame:
    rects = _rects(spark, sf_dir)
    g = F.col("geometry")
    return rects.select(
        "rect_id",
        rect_area_expr(g).alias("area"),
        rect_perimeter_expr(g).alias("perimeter"),
        rect_centroid_x_expr(g).alias("cx"),
        rect_centroid_y_expr(g).alias("cy"),
    )


# ---------------------------------------------------------------------------
# Spatial join: points-in-rectangles via containment predicate (the
# Sedona-style ST_Contains join, rectangle tier). At scale: grid-cell
# blocking key first, exact predicate second — here the exact form.
@_q(
    "spatial_bbox_join",
    f"""
    WITH rects AS ({_SQL_RECTS}), points AS ({_SQL_POINTS}),
    parsed AS (
      SELECT rect_id,
             CAST(regexp_extract(geometry, {_SQL_RECT_RE}, 1) AS DOUBLE) AS x0,
             CAST(regexp_extract(geometry, {_SQL_RECT_RE}, 2) AS DOUBLE) AS y0,
             CAST(regexp_extract(geometry, {_SQL_RECT_RE}, 3) AS DOUBLE) AS x1,
             CAST(regexp_extract(geometry, {_SQL_RECT_RE}, 6) AS DOUBLE) AS y1
      FROM rects
    )
    SELECT r.rect_id, COUNT(p.point_id) AS n_points
    FROM parsed r LEFT JOIN points p
      ON p.px >= r.x0 AND p.px < r.x1 AND p.py >= r.y0 AND p.py < r.y1
    GROUP BY r.rect_id
    """,
)
def q_spatial_bbox_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.geometry import rect_x0, rect_x1, rect_y0, rect_y1

    rects = _rects(spark, sf_dir)
    # parse corners ONCE into numeric columns before the join — the
    # containment predicate must compare attributes, not re-run the
    # regexp per (rect, point) pair
    parsed = rects.select(
        "rect_id",
        rect_x0(F.col("geometry")).alias("x0"),
        rect_y0(F.col("geometry")).alias("y0"),
        rect_x1(F.col("geometry")).alias("x1"),
        rect_y1(F.col("geometry")).alias("y1"),
    )
    points = _points(spark, sf_dir)
    cond = (
        (F.col("px") >= F.col("x0"))
        & (F.col("px") < F.col("x1"))
        & (F.col("py") >= F.col("y0"))
        & (F.col("py") < F.col("y1"))
    )
    joined = parsed.join(F.broadcast(points), cond, "left")
    return joined.groupBy("rect_id").agg(F.count("point_id").alias("n_points"))


@_q("spatial_bbox_join_blocked")
def q_spatial_bbox_join_blocked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SCALE form of the bbox join: rects explode to the grid
    cells they cover, points map to their one cell, and the join is an
    EQUI-join on the cell key with the exact containment predicate as
    a residual filter — candidate pairs are cell-local, never
    rects×points. Each qualifying (rect, point) pair appears exactly
    once (a point's unique cell is covered by a rect's cell list at
    most once), so the result is identical to the nested-loop form —
    proven by sharing its oracle hash."""
    from ..functions.geometry import rect_x0, rect_x1, rect_y0, rect_y1

    G = 16.0
    rects = _rects(spark, sf_dir)
    parsed = rects.select(
        "rect_id",
        rect_x0(F.col("geometry")).alias("x0"),
        rect_y0(F.col("geometry")).alias("y0"),
        rect_x1(F.col("geometry")).alias("x1"),
        rect_y1(F.col("geometry")).alias("y1"),
    )
    # half-open containment (px < x1): the last covered cell is the
    # one holding x1 - epsilon
    rcells = parsed.select(
        "*",
        F.explode(
            F.sequence(
                F.floor(F.col("x0") / G), F.floor((F.col("x1") - F.lit(1e-9)) / G)
            )
        ).alias("cell_x"),
    ).select(
        "*",
        F.explode(
            F.sequence(
                F.floor(F.col("y0") / G), F.floor((F.col("y1") - F.lit(1e-9)) / G)
            )
        ).alias("cell_y"),
    )
    points = _points(spark, sf_dir).select(
        "point_id",
        "px",
        "py",
        F.floor(F.col("px") / G).alias("cell_x"),
        F.floor(F.col("py") / G).alias("cell_y"),
    )
    exact = (
        (F.col("px") >= F.col("x0"))
        & (F.col("px") < F.col("x1"))
        & (F.col("py") >= F.col("y0"))
        & (F.col("py") < F.col("y1"))
    )
    hits = (
        rcells.join(points, ["cell_x", "cell_y"])
        .where(exact)
        .groupBy("rect_id")
        .agg(F.count("point_id").alias("_n"))
    )
    return parsed.select("rect_id").join(hits, "rect_id", "left").select(
        "rect_id", F.coalesce(F.col("_n"), F.lit(0)).cast("bigint").alias("n_points")
    )


ORACLES["spatial_bbox_join_blocked"] = ORACLES["spatial_bbox_join"]


# ---------------------------------------------------------------------------
# §2.7 UDF surface: the registered pandas UDF (general shoelace area)
# invoked through SQL — cross-checked against the rectangle closed
# form, so it IS oracle-checkable on this tier.
@_q(
    "udf_polygon_area",
    f"""
    WITH rects AS ({_SQL_RECTS})
    SELECT rect_id,
           (CAST(regexp_extract(geometry, {_SQL_RECT_RE}, 3) AS DOUBLE)
            - CAST(regexp_extract(geometry, {_SQL_RECT_RE}, 1) AS DOUBLE))
           * (CAST(regexp_extract(geometry, {_SQL_RECT_RE}, 6) AS DOUBLE)
              - CAST(regexp_extract(geometry, {_SQL_RECT_RE}, 2) AS DOUBLE))
           AS shoelace_area
    FROM rects
    """,
)
def q_udf_polygon_area(spark: SparkSession, sf_dir: str) -> DataFrame:
    rects = _rects(spark, sf_dir)
    return rects.select(
        "rect_id", wkt_polygon_area(F.col("geometry")).alias("shoelace_area")
    )


# ---------------------------------------------------------------------------
# Z-order (Morton) spatial clustering key — the layout technique that
# makes bbox queries prune files/row-groups at 100 TB: interleaving
# the bits of (x, y) puts 2-D-near cells near each other in the 1-D
# sort order, so min/max statistics on z-sorted files become 2-D
# bounding boxes. The reference gets the same locality from GeoTIFF
# internal tiling (`0_preprocessing/feature_stacking.py:226-230`);
# z-ordering is the lake-format equivalent.
#
# ONE builder emits the bit-spread expression for both engines, so the
# Spark column and the DuckDB oracle are the same arithmetic by
# construction (only the shift spelling differs).
def _spread_bits(e: str, engine: str) -> str:
    cur = f"({e} & 65535)"
    for sh, mask in ((8, 0x00FF00FF), (4, 0x0F0F0F0F), (2, 0x33333333), (1, 0x55555555)):
        shifted = (
            f"(({cur}) << {sh})" if engine == "duckdb" else f"shiftleft(({cur}), {sh})"
        )
        cur = f"((({cur}) | {shifted}) & {mask})"
    return cur


def morton_sql(x: str, y: str, engine: str) -> str:
    sx = _spread_bits(x, engine)
    sy = _spread_bits(y, engine)
    dbl = f"(({sy}) << 1)" if engine == "duckdb" else f"shiftleft(({sy}), 1)"
    return f"(({sx}) | {dbl})"


def _sql_zorder() -> str:
    m = morton_sql(
        "CAST(event_id % 256 AS BIGINT)", "CAST(user_id * 7 % 256 AS BIGINT)", "duckdb"
    )
    return f"""
    WITH z AS (
      SELECT event_id, {m} AS zval FROM events
    )
    SELECT CAST(zval // 4096 AS BIGINT) AS z_bucket,
           COUNT(*) AS n,
           CAST(MIN(zval) AS BIGINT) AS z_min,
           CAST(MAX(zval) AS BIGINT) AS z_max
    FROM z GROUP BY z_bucket
    """


@_q("zorder_clustering", _sql_zorder())
def q_zorder_clustering(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events")
    m = morton_sql(
        "CAST(event_id % 256 AS BIGINT)", "CAST(user_id * 7 % 256 AS BIGINT)", "spark"
    )
    z = ev.select("event_id", F.expr(m).alias("zval"))
    return z.groupBy(
        F.floor(F.col("zval") / 4096).cast("bigint").alias("z_bucket")
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.min("zval").cast("bigint").alias("z_min"),
        F.max("zval").cast("bigint").alias("z_max"),
    )


# ---------------------------------------------------------------------------
# Point-in-polygon join on CONCAVE polygons (L-shaped hexagons) —
# bbox joins only bound candidates; real containment needs the
# ray-casting predicate. Scale shape (Spark side): polygon bbox cells
# explode to a grid (cell = equi-join key), each point maps to exactly
# ONE cell, candidates form by cell equi-join, and the exact ray-cast
# refinement is a pure higher-order fold over the polygon's vertex
# array carried inline on the candidate row — no edge table, no second
# join, one shuffle total. Never polys × points. Points sit at
# half-integer coordinates so no point lies on an edge (the predicate
# is still deterministic on boundaries — identical IEEE expression
# both engines — but the fixture shouldn't hinge on it).
PIP_CELL = 8.0


def _sql_pip() -> str:
    return """
    WITH polys AS (
      SELECT p_partkey AS poly_id,
             CAST(p_partkey % 28 AS DOUBLE) AS cx,
             CAST(p_partkey % 20 AS DOUBLE) AS cy,
             CAST(p_size % 8 + 2 AS DOUBLE) AS s
      FROM part WHERE p_partkey % 13 = 0
    ),
    pts AS (
      SELECT c_custkey AS point_id,
             CAST(c_custkey % 40 AS DOUBLE) + 0.5 AS px,
             CAST(c_custkey % 30 AS DOUBLE) + 0.5 AS py
      FROM customer
    ),
    verts AS (
      SELECT poly_id, i,
        CASE i WHEN 0 THEN cx WHEN 1 THEN cx+2*s WHEN 2 THEN cx+2*s
               WHEN 3 THEN cx+s WHEN 4 THEN cx+s ELSE cx END AS vx,
        CASE i WHEN 0 THEN cy WHEN 1 THEN cy WHEN 2 THEN cy+s
               WHEN 3 THEN cy+s WHEN 4 THEN cy+2*s ELSE cy+2*s END AS vy
      FROM polys, generate_series(0, 5) g(i)
    ),
    edges AS (
      SELECT a.poly_id, a.vx AS x1, a.vy AS y1, b.vx AS x2, b.vy AS y2
      FROM verts a JOIN verts b ON b.poly_id = a.poly_id
                               AND b.i = (a.i + 1) % 6
    ),
    cross_counts AS (
      SELECT e.poly_id, p.point_id,
             SUM(CASE WHEN (e.y1 > p.py) <> (e.y2 > p.py)
                       AND p.px < e.x1 + (e.x2 - e.x1) * (p.py - e.y1)
                                         / (e.y2 - e.y1)
                 THEN 1 ELSE 0 END) AS crossings
      FROM edges e CROSS JOIN pts p
      GROUP BY e.poly_id, p.point_id
    )
    SELECT poly_id, COUNT(*) AS n_inside
    FROM cross_counts WHERE crossings % 2 = 1
    GROUP BY poly_id
    """


@_q("spatial_point_in_polygon", _sql_pip())
def q_spatial_point_in_polygon(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = t(spark, sf_dir, "part").where(F.col("p_partkey") % 13 == 0)
    cx = (F.col("p_partkey") % 28).cast("double")
    cy = (F.col("p_partkey") % 20).cast("double")
    s = (F.col("p_size") % 8 + 2).cast("double")
    vert = lambda x, y: F.struct(x.alias("vx"), y.alias("vy"))
    polys = part.select(
        F.col("p_partkey").alias("poly_id"),
        F.array(
            vert(cx, cy),
            vert(cx + 2 * s, cy),
            vert(cx + 2 * s, cy + s),
            vert(cx + s, cy + s),
            vert(cx + s, cy + 2 * s),
            vert(cx, cy + 2 * s),
        ).alias("verts"),
        cx.alias("bx0"), (cx + 2 * s).alias("bx1"),
        cy.alias("by0"), (cy + 2 * s).alias("by1"),
    )
    cells = polys.select(
        "poly_id",
        "verts",
        F.explode(
            F.sequence(
                F.floor(F.col("bx0") / PIP_CELL), F.floor(F.col("bx1") / PIP_CELL)
            )
        ).alias("cell_x"),
        "bx0", "bx1", "by0", "by1",
    ).select(
        "poly_id",
        "verts",
        "cell_x",
        F.explode(
            F.sequence(
                F.floor(F.col("by0") / PIP_CELL), F.floor(F.col("by1") / PIP_CELL)
            )
        ).alias("cell_y"),
        "bx0", "bx1", "by0", "by1",
    )
    cust = t(spark, sf_dir, "customer")
    pts = cust.select(
        F.col("c_custkey").alias("point_id"),
        ((F.col("c_custkey") % 40).cast("double") + 0.5).alias("px"),
        ((F.col("c_custkey") % 30).cast("double") + 0.5).alias("py"),
    ).select(
        "point_id", "px", "py",
        F.floor(F.col("px") / PIP_CELL).alias("cell_x"),
        F.floor(F.col("py") / PIP_CELL).alias("cell_y"),
    )
    # exact-bbox refinement BEFORE the 6-edge ray-cast fold: a point
    # outside the bbox always ray-casts to an EVEN crossing count, so
    # dropping it early cannot change the inside set — it just spares
    # the expensive fold on the ~2x candidates the coarse cell grid
    # over-admits (cells are 8x8; bboxes span whole cells)
    cand = pts.join(cells, ["cell_x", "cell_y"]).where(
        (F.col("px") >= F.col("bx0"))
        & (F.col("px") <= F.col("bx1"))
        & (F.col("py") >= F.col("by0"))
        & (F.col("py") <= F.col("by1"))
    )
    # ray-cast refinement: fold over the 6 edges of the inline vertex
    # array — same IEEE expression tree as the oracle's edge predicate
    n = 6
    crossings = F.aggregate(
        F.transform(
            F.sequence(F.lit(0), F.lit(n - 1)),
            lambda i: (
                F.when(
                    (
                        (_vy(i, n) > F.col("py"))
                        != (_vy_next(i, n) > F.col("py"))
                    )
                    & (
                        F.col("px")
                        < _vx(i, n)
                        + (_vx_next(i, n) - _vx(i, n))
                        * (F.col("py") - _vy(i, n))
                        / (_vy_next(i, n) - _vy(i, n))
                    ),
                    F.lit(1),
                ).otherwise(F.lit(0))
            ),
        ),
        F.lit(0),
        lambda acc, x: acc + x,
    )
    inside = cand.where(crossings % 2 == 1)
    return inside.groupBy("poly_id").agg(F.count(F.lit(1)).alias("n_inside"))


def _vx(i, n):
    return F.element_at(F.col("verts"), i + 1).getField("vx")


def _vy(i, n):
    return F.element_at(F.col("verts"), i + 1).getField("vy")


def _vx_next(i, n):
    return F.element_at(F.col("verts"), (i + 1) % n + 1).getField("vx")


def _vy_next(i, n):
    return F.element_at(F.col("verts"), (i + 1) % n + 1).getField("vy")


# ---------------------------------------------------------------------------
# Zonal statistics — the canonical GIS aggregation (mean/min/max of a
# raster per polygon zone), composed from the PIP machinery: pixel
# centers map to one grid cell each, polygon bbox cells bound
# candidates, the inline ray-cast fold refines, and the zonal
# aggregates are map-side-combinable per polygon. The reference's
# object classifier consumes exactly this shape (per-segment band
# stats feeding the RF); here the zones are the concave L-polygons
# and the raster is the closed-form synthetic field.
@_q(
    "zonal_statistics",
    """
    WITH polys AS (
      SELECT p_partkey AS poly_id,
             CAST(p_partkey % 28 AS DOUBLE) AS cx,
             CAST(p_partkey % 20 AS DOUBLE) AS cy,
             CAST(p_size % 8 + 2 AS DOUBLE) AS s
      FROM part WHERE p_partkey % 13 = 0
    ),
    px AS (
      SELECT x.i AS gx, y.i AS gy,
             CAST(x.i AS DOUBLE) + 0.5 AS px,
             CAST(y.i AS DOUBLE) + 0.5 AS py,
             CAST((x.i * 31 + y.i * 17 + 7) % 256 AS DOUBLE) AS val
      FROM unnest(generate_series(0, 47)) AS x(i),
           unnest(generate_series(0, 39)) AS y(i)
    ),
    verts AS (
      SELECT poly_id, i,
        CASE i WHEN 0 THEN cx WHEN 1 THEN cx+2*s WHEN 2 THEN cx+2*s
               WHEN 3 THEN cx+s WHEN 4 THEN cx+s ELSE cx END AS vx,
        CASE i WHEN 0 THEN cy WHEN 1 THEN cy WHEN 2 THEN cy+s
               WHEN 3 THEN cy+s WHEN 4 THEN cy+2*s ELSE cy+2*s END AS vy
      FROM polys, generate_series(0, 5) g(i)
    ),
    edges AS (
      SELECT a.poly_id, a.vx AS x1, a.vy AS y1, b.vx AS x2, b.vy AS y2
      FROM verts a JOIN verts b ON b.poly_id = a.poly_id
                               AND b.i = (a.i + 1) % 6
    ),
    inside AS (
      SELECT e.poly_id, p.gx, p.gy, p.val
      FROM edges e CROSS JOIN px p
      GROUP BY e.poly_id, p.gx, p.gy, p.val, p.px, p.py
      HAVING SUM(CASE WHEN (e.y1 > p.py) <> (e.y2 > p.py)
                       AND p.px < e.x1 + (e.x2 - e.x1) * (p.py - e.y1)
                                         / (e.y2 - e.y1)
                 THEN 1 ELSE 0 END) % 2 = 1
    )
    SELECT poly_id, COUNT(*) AS n_px,
           round(CAST(SUM(val) AS DOUBLE) / COUNT(*), 6) AS mean_val,
           CAST(MIN(val) AS DOUBLE) AS min_val,
           CAST(MAX(val) AS DOUBLE) AS max_val
    FROM inside GROUP BY poly_id
    """,
)
def q_zonal_statistics(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = t(spark, sf_dir, "part").where(F.col("p_partkey") % 13 == 0)
    cx = (F.col("p_partkey") % 28).cast("double")
    cy = (F.col("p_partkey") % 20).cast("double")
    s = (F.col("p_size") % 8 + 2).cast("double")
    vert = lambda x, y: F.struct(x.alias("vx"), y.alias("vy"))
    polys = part.select(
        F.col("p_partkey").alias("poly_id"),
        F.array(
            vert(cx, cy),
            vert(cx + 2 * s, cy),
            vert(cx + 2 * s, cy + s),
            vert(cx + s, cy + s),
            vert(cx + s, cy + 2 * s),
            vert(cx, cy + 2 * s),
        ).alias("verts"),
        cx.alias("bx0"), (cx + 2 * s).alias("bx1"),
        cy.alias("by0"), (cy + 2 * s).alias("by1"),
    )
    cells = polys.select(
        "poly_id", "verts",
        F.explode(
            F.sequence(F.floor(F.col("bx0") / PIP_CELL), F.floor(F.col("bx1") / PIP_CELL))
        ).alias("cell_x"),
        F.col("by0"), F.col("by1"),
    ).select(
        "poly_id", "verts", "cell_x",
        F.explode(
            F.sequence(F.floor(F.col("by0") / PIP_CELL), F.floor(F.col("by1") / PIP_CELL))
        ).alias("cell_y"),
    )
    # synthetic raster pixels with centers at half-integers
    gx = F.explode(F.sequence(F.lit(0), F.lit(47))).alias("gx")
    px0 = t(spark, sf_dir, "part").sparkSession.range(1).select(gx)
    px = px0.select(
        "gx", F.explode(F.sequence(F.lit(0), F.lit(39))).alias("gy")
    ).select(
        "gx",
        "gy",
        (F.col("gx").cast("double") + 0.5).alias("px"),
        (F.col("gy").cast("double") + 0.5).alias("py"),
        ((F.col("gx") * 31 + F.col("gy") * 17 + 7) % 256).cast("double").alias("val"),
    ).select(
        "*",
        F.floor(F.col("px") / PIP_CELL).alias("cell_x"),
        F.floor(F.col("py") / PIP_CELL).alias("cell_y"),
    )
    cand = px.join(cells, ["cell_x", "cell_y"])
    n = 6
    crossings = F.aggregate(
        F.transform(
            F.sequence(F.lit(0), F.lit(n - 1)),
            lambda i: (
                F.when(
                    ((_vy(i, n) > F.col("py")) != (_vy_next(i, n) > F.col("py")))
                    & (
                        F.col("px")
                        < _vx(i, n)
                        + (_vx_next(i, n) - _vx(i, n))
                        * (F.col("py") - _vy(i, n))
                        / (_vy_next(i, n) - _vy(i, n))
                    ),
                    F.lit(1),
                ).otherwise(F.lit(0))
            ),
        ),
        F.lit(0),
        lambda acc, x: acc + x,
    )
    inside = cand.where(crossings % 2 == 1)
    return inside.groupBy("poly_id").agg(
        F.count(F.lit(1)).alias("n_px"),
        F.round(F.sum("val") / F.count(F.lit(1)), 6).alias("mean_val"),
        F.min("val").alias("min_val"),
        F.max("val").alias("max_val"),
    )


# ---------------------------------------------------------------------------
# Grid-blocked spatial KNN join: for every customer point, the k=3
# nearest supplier points among the 3x3 neighboring grid cells — the
# scale form of a spatial nearest-neighbor join (same candidate
# semantics as spatial_bbox_join_blocked and the LSH tiers: the cell
# join bounds candidates, and the envelope — exact when the true
# k-NN radius <= cell size — is part of the operator contract, not a
# bug). Coordinates live on the integer lattice, so every distance^2
# is an exact BIGINT and ranking ties break on (dist2, supplier id)
# identically in both engines. Plan: points explode x9 neighbor
# cells (row-local), one equi-join on the cell key, per-point window
# — no all-pairs distance computation anywhere. No broadcast hint on
# the target side: at 100 TB BOTH sides of a spatial KNN are large,
# and the cell equi-join must stay a shuffled hash join on the cell
# key; Catalyst/AQE still auto-broadcasts when the target side is
# genuinely small (as the fixture's supplier table is).
_KNN_CELL = 10
_KNN_K = 3


def _sql_spatial_knn() -> str:
    return f"""
    WITH a AS (
      SELECT c_custkey AS a_id,
             c_custkey % 40 AS ax, c_custkey % 30 AS ay
      FROM customer
    ), b AS (
      SELECT s_suppkey AS b_id,
             (s_suppkey * 7) % 40 AS bx, (s_suppkey * 11) % 30 AS by
      FROM supplier
    ), bc AS (
      SELECT b_id, bx, by, bx // {_KNN_CELL} AS cx, by // {_KNN_CELL} AS cy
      FROM b
    ), probes AS (
      SELECT a.a_id, a.ax, a.ay,
             ax // {_KNN_CELL} + dx.i AS cx, ay // {_KNN_CELL} + dy.i AS cy
      FROM a, unnest(generate_series(-1, 1)) AS dx(i),
             unnest(generate_series(-1, 1)) AS dy(i)
    ), cand AS (
      SELECT p.a_id, bc.b_id,
             (p.ax - bc.bx) * (p.ax - bc.bx)
             + (p.ay - bc.by) * (p.ay - bc.by) AS dist2
      FROM probes p JOIN bc ON bc.cx = p.cx AND bc.cy = p.cy
    ), ranked AS (
      SELECT a_id, b_id, dist2,
             row_number() OVER (PARTITION BY a_id
                                ORDER BY dist2, b_id) AS rn
      FROM cand
    )
    SELECT a_id, CAST(rn AS INT) AS rn, b_id, CAST(dist2 AS BIGINT) AS dist2
    FROM ranked WHERE rn <= {_KNN_K}
    """


@_q("spatial_knn_join", _sql_spatial_knn())
def q_spatial_knn_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = t(spark, sf_dir, "customer")
    supp = t(spark, sf_dir, "supplier")
    a = cust.select(
        F.col("c_custkey").alias("a_id"),
        (F.col("c_custkey") % 40).alias("ax"),
        (F.col("c_custkey") % 30).alias("ay"),
    )
    b = supp.select(
        F.col("s_suppkey").alias("b_id"),
        ((F.col("s_suppkey") * 7) % 40).alias("bx"),
        ((F.col("s_suppkey") * 11) % 30).alias("by"),
    ).select(
        "b_id",
        "bx",
        "by",
        F.floor(F.col("bx") / _KNN_CELL).alias("cx"),
        F.floor(F.col("by") / _KNN_CELL).alias("cy"),
    )
    probes = a.select(
        "a_id",
        "ax",
        "ay",
        F.explode(
            F.expr(
                "flatten(transform(sequence(-1, 1),"
                " dx -> transform(sequence(-1, 1),"
                " dy -> struct(dx AS dx, dy AS dy))))"
            )
        ).alias("d"),
    ).select(
        "a_id",
        "ax",
        "ay",
        (F.floor(F.col("ax") / _KNN_CELL) + F.col("d.dx")).alias("cx"),
        (F.floor(F.col("ay") / _KNN_CELL) + F.col("d.dy")).alias("cy"),
    )
    dist2 = (F.col("ax") - F.col("bx")) * (F.col("ax") - F.col("bx")) + (
        F.col("ay") - F.col("by")
    ) * (F.col("ay") - F.col("by"))
    cand = probes.join(b, ["cx", "cy"]).select(
        "a_id", "b_id", dist2.alias("dist2")
    )
    w = Window.partitionBy("a_id").orderBy("dist2", "b_id")
    return (
        cand.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= _KNN_K)
        .select(
            "a_id",
            F.col("rn").cast("int").alias("rn"),
            "b_id",
            F.col("dist2").cast("bigint").alias("dist2"),
        )
    )


# ---------------------------------------------------------------------------
# Grid-blocked DBSCAN (Ester et al. 1996) over hash-scattered customer
# points — the density clustering every spatial/embedding pipeline
# reaches for after KNN. Deterministic variant: core points are exact
# (>= minPts points within eps, self included); clusters are connected
# components of the core-core eps-graph labelled by MIN core id; each
# border point joins the MIN cluster label among its core neighbors
# (classic DBSCAN leaves border assignment scan-order-dependent — min
# makes it partition-invariant, the same determinism upgrade as the
# relabel/survivorship queries); the rest is noise.
#
# Density normalization: coordinates are md5-hash uniforms over an
# S x S space where S steps with the table size (40/125/400/1250 for
# n <= 200/2e3/2e4/beyond), holding density at ~0.094 pts/site so the
# SAME (eps, minPts) stays meaningful at every fixture scale — the
# fixture-side analogue of sizing shuffle partitions to the input.
#
# Plan (the 100 TB shape): points explode x9 neighbor cells
# (cell = 4 >= eps, row-local), ONE equi-join on the cell key bounds
# candidates — no all-pairs distances anywhere; neighbor counts are
# one groupBy with map-side partials; the core-core component
# resolution is large-star/small-star contraction (O(log n) rounds —
# near-percolation DBSCAN components are long and snaky, the exact
# shape min-label's O(diameter) loop loses); border assignment is one
# more equi-join + min. Oracle walks the identical pair graph with a
# WITH RECURSIVE min-label closure.
_DBSCAN_EPS2 = 13  # eps = sqrt(13) ~ 3.61
_DBSCAN_MINPTS = 5
_DBSCAN_CELL = 4


def _sql_grid_dbscan() -> str:
    bucket1 = "CAST(('0x' || substring(md5(CAST(c_custkey AS VARCHAR)), 1, 4)) AS INTEGER)"
    bucket2 = "CAST(('0x' || substring(md5(CAST(c_custkey AS VARCHAR)), 5, 4)) AS INTEGER)"
    return f"""
    WITH RECURSIVE params AS (
      SELECT CASE WHEN COUNT(*) <= 200 THEN 40
                  WHEN COUNT(*) <= 2000 THEN 125
                  WHEN COUNT(*) <= 20000 THEN 400
                  ELSE 1250 END AS s
      FROM customer
    ),
    pts AS MATERIALIZED (
      SELECT c_custkey AS id, {bucket1} % p.s AS x, {bucket2} % p.s AS y
      FROM customer, params p
    ),
    pairs AS MATERIALIZED (
      SELECT a.id AS a_id, b.id AS b_id
      FROM pts a JOIN pts b
        ON b.x BETWEEN a.x - 3 AND a.x + 3
       AND b.y BETWEEN a.y - 3 AND a.y + 3
      WHERE a.id <> b.id
        AND (a.x - b.x) * (a.x - b.x)
            + (a.y - b.y) * (a.y - b.y) <= {_DBSCAN_EPS2}
    ),
    core AS MATERIALIZED (
      SELECT a_id AS id FROM pairs GROUP BY a_id
      HAVING COUNT(*) + 1 >= {_DBSCAN_MINPTS}
    ),
    ce AS MATERIALIZED (
      SELECT p.a_id AS s, p.b_id AS d
      FROM pairs p
      JOIN core c1 ON c1.id = p.a_id
      JOIN core c2 ON c2.id = p.b_id
    ),
    reach(node, lbl) AS (
      SELECT DISTINCT s, s FROM ce
      UNION
      SELECT e.d, r.lbl FROM reach r JOIN ce e ON e.s = r.node
      WHERE r.lbl < e.d
    ),
    complbl AS (SELECT node, MIN(lbl) AS lbl FROM reach GROUP BY node),
    corelbl AS (
      SELECT c.id, COALESCE(l.lbl, c.id) AS cluster_id
      FROM core c LEFT JOIN complbl l ON l.node = c.id
    ),
    borderlbl AS (
      SELECT p.a_id AS id, MIN(cl.cluster_id) AS cluster_id
      FROM pairs p JOIN corelbl cl ON cl.id = p.b_id
      WHERE p.a_id NOT IN (SELECT id FROM core)
      GROUP BY p.a_id
    )
    SELECT CAST(pt.id AS BIGINT) AS id,
           CAST(pt.x AS INT) AS x, CAST(pt.y AS INT) AS y,
           CASE WHEN c.cluster_id IS NOT NULL THEN 'core'
                WHEN b.cluster_id IS NOT NULL THEN 'border'
                ELSE 'noise' END AS role,
           CAST(COALESCE(c.cluster_id, b.cluster_id) AS BIGINT) AS cluster_id
    FROM pts pt
    LEFT JOIN corelbl c ON c.id = pt.id
    LEFT JOIN borderlbl b ON b.id = pt.id
    ORDER BY id
    """


@_q("grid_dbscan_clusters", _sql_grid_dbscan())
def q_grid_dbscan_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import connected_components_star

    cust = t(spark, sf_dir, "customer")
    md5s = F.md5(F.col("c_custkey").cast("string"))
    h = cust.select(
        F.col("c_custkey").alias("id"),
        F.conv(F.substring(md5s, 1, 4), 16, 10).cast("int").alias("h1"),
        F.conv(F.substring(md5s, 5, 4), 16, 10).cast("int").alias("h2"),
    )
    s = cust.agg(F.count(F.lit(1)).alias("_n")).select(
        F.expr(
            "CASE WHEN _n <= 200 THEN 40 WHEN _n <= 2000 THEN 125 "
            "WHEN _n <= 20000 THEN 400 ELSE 1250 END"
        ).alias("_s")
    )
    # points feed probes, targets, and the final labelling — one scan
    pts = (
        h.crossJoin(F.broadcast(s))
        .select(
            "id",
            (F.col("h1") % F.col("_s")).alias("x"),
            (F.col("h2") % F.col("_s")).alias("y"),
        )
        .localCheckpoint(eager=False)
    )
    tgt = pts.select(
        F.col("id").alias("b_id"),
        F.col("x").alias("bx"),
        F.col("y").alias("by"),
        F.expr(f"x div {_DBSCAN_CELL}").alias("cx"),
        F.expr(f"y div {_DBSCAN_CELL}").alias("cy"),
    )
    probes = pts.select(
        F.col("id").alias("a_id"),
        F.col("x").alias("ax"),
        F.col("y").alias("ay"),
        F.explode(
            F.expr(
                "flatten(transform(sequence(-1, 1),"
                " dx -> transform(sequence(-1, 1),"
                " dy -> struct(dx AS dx, dy AS dy))))"
            )
        ).alias("d"),
    ).select(
        "a_id",
        "ax",
        "ay",
        (F.expr(f"ax div {_DBSCAN_CELL}") + F.col("d.dx")).alias("cx"),
        (F.expr(f"ay div {_DBSCAN_CELL}") + F.col("d.dy")).alias("cy"),
    )
    dist2 = (F.col("ax") - F.col("bx")) * (F.col("ax") - F.col("bx")) + (
        F.col("ay") - F.col("by")
    ) * (F.col("ay") - F.col("by"))
    pairs = (
        probes.join(tgt, ["cx", "cy"])
        .filter((F.col("a_id") != F.col("b_id")) & (dist2 <= _DBSCAN_EPS2))
        .select("a_id", "b_id")
        .localCheckpoint(eager=False)
    )
    core = (
        pairs.groupBy("a_id")
        .agg((F.count(F.lit(1)) + 1).alias("k"))
        .filter(F.col("k") >= _DBSCAN_MINPTS)
        .select(F.col("a_id").alias("id"))
        .localCheckpoint(eager=False)
    )
    core_edges = (
        pairs.join(core.select(F.col("id").alias("a_id")), "a_id")
        .join(core.select(F.col("id").alias("b_id")), "b_id")
        .select("a_id", "b_id")
    )
    # near-percolation density makes DBSCAN components long and snaky
    # (diameter in the hundreds at sf0.1) — star contraction's
    # O(log n) rounds, not min-label's O(diameter)
    comp = connected_components_star(core_edges, "a_id", "b_id")
    corelbl = (
        core.join(comp, core["id"] == comp["node"], "left")
        .select("id", F.coalesce("cluster_id", "id").alias("cluster_id"))
        .localCheckpoint(eager=False)
    )
    borderlbl = (
        pairs.join(
            corelbl.select(
                F.col("id").alias("b_id"), F.col("cluster_id").alias("_bcl")
            ),
            "b_id",
        )
        .join(core.select(F.col("id").alias("a_id")), "a_id", "left_anti")
        .groupBy("a_id")
        .agg(F.min("_bcl").alias("_blbl"))
    )
    return (
        pts.join(
            corelbl.select("id", F.col("cluster_id").alias("_clbl")), "id", "left"
        )
        .join(borderlbl, pts["id"] == borderlbl["a_id"], "left")
        .select(
            F.col("id").cast("bigint").alias("id"),
            F.col("x").cast("int").alias("x"),
            F.col("y").cast("int").alias("y"),
            F.when(F.col("_clbl").isNotNull(), "core")
            .when(F.col("_blbl").isNotNull(), "border")
            .otherwise("noise")
            .alias("role"),
            F.coalesce("_clbl", "_blbl").cast("bigint").alias("cluster_id"),
        )
        .orderBy("id")
    )


# ---------------------------------------------------------------------------
# Hilbert-vs-Z-order locality audit over a 16x16 cell grid — the
# measurement behind choosing a space-filling curve for data layout
# (Delta/Iceberg OPTIMIZE ZORDER vs Hilbert clustering): walk each
# curve in index order and measure the Manhattan jump between
# consecutive cells. Hilbert's defining property (every step is a
# unit step) vs Z-order's quadrant seams falls straight out of the
# numbers. The Hilbert index runs the standard xy2d rotation loop
# (Wikipedia's algorithm) UNROLLED over the 4 levels s=8,4,2,1 with
# pure integer CASE arithmetic — no xor builtin needed, so the same
# expression tree runs in both engines; Z-order interleaves bits with
# // and %. Everything integer until the one avg division.
_HILB_N = 16


def _sql_hilbert_locality() -> str:
    # unrolled xy2d: at each level s, quadrant code q=(0,1,3,2) for
    # (rx,ry)=(0,0),(0,1),(1,0),(1,1) -> d += s*s*q, then rotate/flip
    steps = []
    for s in (8, 4, 2, 1):
        steps.append(
            f"""SELECT cell, d + {s * s} * (
               CASE WHEN x >= {s} AND y >= {s} THEN 2
                    WHEN x >= {s} THEN 3
                    WHEN y >= {s} THEN 1
                    ELSE 0 END) AS d,
             CASE WHEN y < {s} AND x >= {s} THEN {s} - 1 - (y % {s})
                  WHEN y < {s} THEN y % {s}
                  ELSE x % {s} END AS x,
             CASE WHEN y < {s} AND x >= {s} THEN {s} - 1 - (x % {s})
                  WHEN y < {s} THEN x % {s}
                  ELSE y % {s} END AS y
      FROM """
        )
    inner = f"""(SELECT cell, 0 AS d, cell % {_HILB_N} AS x,
                 cell // {_HILB_N} AS y
          FROM (SELECT unnest(generate_series(0, {_HILB_N * _HILB_N - 1}))
                AS cell))"""
    # innermost subquery evaluates FIRST: wrap in s=8,4,2,1 order so
    # the s=8 step is innermost
    hilbert = inner
    for st in steps:
        hilbert = f"({st}{hilbert})"
    zbits = " + ".join(
        f"(((cell % {_HILB_N}) // {1 << k}) % 2) * {1 << (2 * k)}"
        f" + (((cell // {_HILB_N}) // {1 << k}) % 2) * {1 << (2 * k + 1)}"
        for k in range(4)
    )
    return f"""
    WITH h AS (
      SELECT cell, d AS idx FROM {hilbert}
    ),
    z AS (
      SELECT cell, {zbits} AS idx
      FROM (SELECT unnest(generate_series(0, {_HILB_N * _HILB_N - 1}))
            AS cell)
    ),
    both_curves AS (
      SELECT 'hilbert' AS curve, cell, idx FROM h
      UNION ALL SELECT 'zorder', cell, idx FROM z
    ),
    walk AS (
      SELECT curve,
             abs(cell % {_HILB_N}
                 - lead(cell % {_HILB_N}) OVER w) +
             abs(cell // {_HILB_N}
                 - lead(cell // {_HILB_N}) OVER w) AS jump
      FROM both_curves
      WINDOW w AS (PARTITION BY curve ORDER BY idx)
    )
    SELECT curve,
           CAST(COUNT(jump) AS BIGINT) AS n_steps,
           CAST(SUM(CASE WHEN jump = 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS unit_steps,
           CAST(MAX(jump) AS BIGINT) AS max_jump,
           round(CAST(SUM(jump) AS DOUBLE) / COUNT(jump), 6) AS avg_jump
    FROM walk WHERE jump IS NOT NULL
    GROUP BY curve ORDER BY curve
    """


@_q("hilbert_locality_audit", _sql_hilbert_locality())
def q_hilbert_locality_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    n = _HILB_N
    cells = t(spark, sf_dir, "region").sparkSession.range(n * n).select(
        F.col("id").cast("bigint").alias("cell")
    )
    x = (F.col("cell") % n).alias("x")
    y = (F.col("cell") / n).cast("bigint").alias("y")
    cur = cells.select("cell", F.lit(0).cast("bigint").alias("d"), x, y)
    for s in (8, 4, 2, 1):
        q = (
            F.when((F.col("x") >= s) & (F.col("y") >= s), 2)
            .when(F.col("x") >= s, 3)
            .when(F.col("y") >= s, 1)
            .otherwise(0)
        )
        nx = (
            F.when(
                (F.col("y") < s) & (F.col("x") >= s),
                s - 1 - (F.col("y") % s),
            )
            .when(F.col("y") < s, F.col("y") % s)
            .otherwise(F.col("x") % s)
        )
        ny = (
            F.when(
                (F.col("y") < s) & (F.col("x") >= s),
                s - 1 - (F.col("x") % s),
            )
            .when(F.col("y") < s, F.col("x") % s)
            .otherwise(F.col("y") % s)
        )
        cur = cur.select(
            "cell",
            (F.col("d") + s * s * q).alias("d"),
            nx.alias("x"),
            ny.alias("y"),
        )
    h = cur.select(F.lit("hilbert").alias("curve"), "cell", F.col("d").alias("idx"))
    zexpr = None
    for k in range(4):
        t1 = ((F.col("cell") % n) / (1 << k)).cast("bigint") % 2 * (1 << (2 * k))
        t2 = (
            ((F.col("cell") / n).cast("bigint") / (1 << k)).cast("bigint")
            % 2
            * (1 << (2 * k + 1))
        )
        zexpr = t1 + t2 if zexpr is None else zexpr + t1 + t2
    z = cells.select(
        F.lit("zorder").alias("curve"), "cell", zexpr.cast("bigint").alias("idx")
    )
    from pyspark.sql import Window

    w = Window.partitionBy("curve").orderBy("idx")
    cx = F.col("cell") % n
    cy = (F.col("cell") / n).cast("bigint")
    walk = h.unionByName(z).select(
        "curve",
        (
            F.abs(cx - F.lead(cx).over(w)) + F.abs(cy - F.lead(cy).over(w))
        ).alias("jump"),
    )
    return (
        walk.where(F.col("jump").isNotNull())
        .groupBy("curve")
        .agg(
            F.count("jump").cast("bigint").alias("n_steps"),
            F.sum(F.when(F.col("jump") == 1, 1).otherwise(0))
            .cast("bigint")
            .alias("unit_steps"),
            F.max("jump").cast("bigint").alias("max_jump"),
            F.round(
                F.sum("jump").cast("double") / F.count("jump"), 6
            ).alias("avg_jump"),
        )
        .orderBy("curve")
    )


# ---------------------------------------------------------------------------
# Inverse-distance-weighted interpolation (Shepard 1968) of account
# balance onto a coarse grid — the geostatistical surface-estimation
# step (reference's zonal/areal tier) done entirely on the INTEGER
# lattice: point coords are integers, cell centers sit on the
# half-lattice, so doubling every coordinate makes d² an exact (odd)
# BIGINT ≥ 2 — no zero-distance guard needed — and the weight
# 1/d² becomes the exact integer 10¹²//d². The estimate is then a
# ratio of two exact sums (Σv·w in DECIMAL(38,0)/HUGEINT, Σw BIGINT)
# with ONE division. A d² ≤ 800 radius cap bounds each cell's
# neighborhood — the at-scale form blocks points to nearby cells
# (grid equi-join) instead of the small-grid broadcast used here.
@_q(
    "idw_interpolation",
    """
    WITH pts AS (
      SELECT CAST(c_custkey % 40 AS BIGINT) AS px,
             CAST(c_custkey % 30 AS BIGINT) AS py,
             CAST(round(c_acctbal * 100) AS BIGINT) AS v
      FROM customer
    ),
    grid AS (
      SELECT gx, gy
      FROM unnest(generate_series(0, 7)) AS g1(gx),
           unnest(generate_series(0, 5)) AS g2(gy)
    ),
    pairs AS (
      SELECT g.gx, g.gy, p.v,
             (2 * p.px - (10 * g.gx + 5)) * (2 * p.px - (10 * g.gx + 5))
             + (2 * p.py - (10 * g.gy + 5)) * (2 * p.py - (10 * g.gy + 5))
               AS d2
      FROM grid g CROSS JOIN pts p
    )
    SELECT CAST(gx AS BIGINT) AS gx, CAST(gy AS BIGINT) AS gy,
           CAST(COUNT(*) AS BIGINT) AS n_neighbors,
           round(CAST(SUM(CAST(v AS HUGEINT) * (1000000000000 // d2))
                      AS DOUBLE)
                 / CAST(SUM(1000000000000 // d2) AS DOUBLE) / 100, 6)
             AS idw_acctbal
    FROM pairs WHERE d2 <= 800
    GROUP BY gx, gy ORDER BY gx, gy
    """,
)
def q_idw_interpolation(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = t(spark, sf_dir, "customer")
    pts = cust.select(
        (F.col("c_custkey") % 40).cast("bigint").alias("px"),
        (F.col("c_custkey") % 30).cast("bigint").alias("py"),
        F.round(F.col("c_acctbal") * 100).cast("bigint").alias("v"),
    )
    spark_ = cust.sparkSession
    grid = (
        spark_.range(8)
        .select(F.col("id").alias("gx"))
        .crossJoin(spark_.range(6).select(F.col("id").alias("gy")))
    )
    dx = 2 * F.col("px") - (10 * F.col("gx") + 5)
    dy = 2 * F.col("py") - (10 * F.col("gy") + 5)
    pairs = (
        pts.crossJoin(F.broadcast(grid))
        .select("gx", "gy", "v", (dx * dx + dy * dy).alias("d2"))
        .where(F.col("d2") <= 800)
    )
    w = F.expr("1000000000000 DIV d2")
    return (
        pairs.groupBy("gx", "gy")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_neighbors"),
            F.round(
                F.sum(F.col("v").cast("decimal(38,0)") * w).cast("double")
                / F.sum(w).cast("double")
                / 100,
                6,
            ).alias("idw_acctbal"),
        )
        .orderBy("gx", "gy")
    )


# ---------------------------------------------------------------------------
# Local Outlier Factor (Breunig et al. SIGMOD 2000) over the order
# point lattice — the density-RATIO outlier detector (grid_dbscan
# gives membership, LOF gives a graded score): k=4 neighbors found by
# the same 3×3-cell blocked join as spatial_knn_join (envelope: exact
# while kdist ≤ cell size 8, same documented contract), then
# reach²(p,o) = max(d²(p,o), kdist²(o)), lrd(p) = k/Σ reach, and
# LOF(p) = mean(lrd(o))/lrd(p). Determinism ladder: d² exact integers
# on the (o_orderkey mod 251/241) lattice, (d², id) neighbor ties,
# per-edge sqrt round(9), per-node sums of exactly k rounded values
# in DECIMAL(38,9), lrd round(9) before the ratio, LOF round(6).
# Co-located points max out at 3 < k on every fixture SF so kdist>0;
# the zero-sum guard keeps a degenerate future fixture NULL, not inf.
_LOF_K = 4
_LOF_CELL = 8


def _sql_lof() -> str:
    k, cs = _LOF_K, _LOF_CELL
    return f"""
    WITH pts AS (
      SELECT o_orderkey AS id,
             CAST(o_orderkey % 251 AS BIGINT) AS px,
             CAST(o_orderkey % 241 AS BIGINT) AS py
      FROM orders
    ),
    qx AS (
      -- each point registers in its cell AND its 8 neighbors, so the
      -- probe is a pure EQUI join on the cell key (a range-only join
      -- plans as a nested loop = points x points; this exploded form
      -- is the spatial_knn_join discipline)
      SELECT id, px, py,
             px // {cs} + dx.o AS cx, py // {cs} + dy.o AS cy
      FROM pts,
           LATERAL unnest([-1, 0, 1]) AS dx(o),
           LATERAL unnest([-1, 0, 1]) AS dy(o)
    ),
    cand AS (
      SELECT p.id AS pid, q.id AS qid,
             (p.px - q.px) * (p.px - q.px)
             + (p.py - q.py) * (p.py - q.py) AS d2
      FROM (SELECT id, px, py, px // {cs} AS cx, py // {cs} AS cy
            FROM pts) p
      JOIN qx q ON q.cx = p.cx AND q.cy = p.cy AND q.id <> p.id
    ),
    knn AS (
      SELECT pid, qid, d2 FROM (
        SELECT pid, qid, d2,
               row_number() OVER (PARTITION BY pid ORDER BY d2, qid) AS rn
        FROM cand
      ) WHERE rn <= {k}
    ),
    kd AS (SELECT pid, MAX(d2) AS kdist2, COUNT(*) AS nk
           FROM knn GROUP BY pid),
    reach AS (
      SELECT n.pid, n.qid,
             CAST(round(sqrt(CAST(GREATEST(n.d2, ko.kdist2) AS DOUBLE)), 9)
                  AS DECIMAL(38,9)) AS r
      FROM knn n JOIN kd ko ON ko.pid = n.qid
    ),
    lrd AS (
      SELECT r.pid,
             round(CASE WHEN SUM(r.r) > 0
                   THEN {k}.0 / CAST(SUM(r.r) AS DOUBLE) END, 9) AS lrd9
      FROM reach r JOIN kd ON kd.pid = r.pid
      WHERE kd.nk = {k}
      GROUP BY r.pid
    ),
    lof AS (
      SELECT n.pid,
             round(CAST(SUM(CAST(lo.lrd9 AS DECIMAL(38,9))) AS DOUBLE)
                   / ({k} * lp.lrd9), 6) AS lof
      FROM knn n
      JOIN lrd lo ON lo.pid = n.qid
      JOIN lrd lp ON lp.pid = n.pid
      GROUP BY n.pid, lp.lrd9
    )
    SELECT CAST(l.pid AS BIGINT) AS o_orderkey, l.lof,
           round(sqrt(CAST(kd.kdist2 AS DOUBLE)), 6) AS kdist
    FROM lof l JOIN kd ON kd.pid = l.pid
    ORDER BY l.lof DESC, o_orderkey LIMIT 10
    """


@_q("lof_outlier_scores", _sql_lof())
def q_lof_outlier_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    k, cs = _LOF_K, _LOF_CELL
    o = t(spark, sf_dir, "orders")
    pts = o.select(
        F.col("o_orderkey").alias("id"),
        (F.col("o_orderkey") % 251).cast("bigint").alias("px"),
        (F.col("o_orderkey") % 241).cast("bigint").alias("py"),
    ).localCheckpoint(eager=True)  # probe + build sides
    # each point registers in its 9 surrounding cells so the probe is
    # a pure EQUI join on (cx, cy) — a range-only join would plan as a
    # nested loop (points × points, measured hanging at sf0.1)
    off = F.explode(
        F.array(*[F.lit(o) for o in (-1, 0, 1)])
    )
    q = (
        pts.select(
            F.col("id").alias("qid"),
            F.col("px").alias("qx"),
            F.col("py").alias("qy"),
            F.expr(f"px DIV {cs}").alias("cx0"),
            F.expr(f"py DIV {cs}").alias("cy0"),
        )
        .withColumn("dx", off)
        .withColumn("dy", off)
        .select(
            "qid",
            "qx",
            "qy",
            (F.col("cx0") + F.col("dx")).alias("cx"),
            (F.col("cy0") + F.col("dy")).alias("cy"),
        )
    )
    p = pts.select(
        F.col("id").alias("pid"),
        "px",
        "py",
        F.expr(f"px DIV {cs}").alias("cx"),
        F.expr(f"py DIV {cs}").alias("cy"),
    )
    cand = p.join(
        q, ["cx", "cy"]
    ).where(F.col("qid") != F.col("pid")).select(
        "pid",
        "qid",
        (
            (F.col("px") - F.col("qx")) * (F.col("px") - F.col("qx"))
            + (F.col("py") - F.col("qy")) * (F.col("py") - F.col("qy"))
        ).alias("d2"),
    )
    w = Window.partitionBy("pid").orderBy("d2", "qid")
    knn = (
        cand.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= k)
        .select("pid", "qid", "d2")
        .localCheckpoint(eager=True)  # read by kd, reach, lof
    )
    kd = knn.groupBy("pid").agg(
        F.max("d2").alias("kdist2"), F.count(F.lit(1)).alias("nk")
    )
    ko = kd.select(F.col("pid").alias("qid"), F.col("kdist2").alias("kq"))
    reach = knn.join(ko, "qid").select(
        "pid",
        "qid",
        F.round(F.sqrt(F.greatest("d2", "kq").cast("double")), 9)
        .cast("decimal(38,9)")
        .alias("r"),
    )
    lrd = (
        reach.join(kd.where(F.col("nk") == k).select("pid"), "pid")
        .groupBy("pid")
        .agg(
            F.round(
                F.when(
                    F.sum("r") > 0, F.lit(float(k)) / F.sum("r").cast("double")
                ),
                9,
            ).alias("lrd9")
        )
        .localCheckpoint(eager=True)  # read as both lo and lp
    )
    lo = lrd.select(F.col("pid").alias("qid"), F.col("lrd9").alias("lrdq"))
    lp = lrd.select("pid", F.col("lrd9").alias("lrdp"))
    lof = (
        knn.join(lo, "qid")
        .join(lp, "pid")
        .groupBy("pid", "lrdp")
        .agg(
            F.round(
                F.sum(F.col("lrdq").cast("decimal(38,9)")).cast("double")
                / (k * F.col("lrdp")),
                6,
            ).alias("lof")
        )
    )
    return (
        lof.join(kd.select("pid", "kdist2"), "pid")
        .select(
            F.col("pid").cast("bigint").alias("o_orderkey"),
            "lof",
            F.round(F.sqrt(F.col("kdist2").cast("double")), 6).alias(
                "kdist"
            ),
        )
        .orderBy(F.desc("lof"), "o_orderkey")
        .limit(10)
    )


# ---------------------------------------------------------------------------
# General polygon overlay: ST_Intersection area / ST_Union area / IoU
# per (rect, zone) pair — the overlay the reference's polygonization
# tier (R6/R7) stops short of, and the first missing piece a GIS user
# hits. Spark side: Catalyst rectangle-corner exprs provide only the
# COARSE bbox-overlap candidate filter (broadcast — the zone dim is
# small); the areas come from the GENERAL Sutherland-Hodgman kernel
# (`functions/geometry.py`) parsing both WKTs in an Arrow-batched
# pandas UDF, so this query exercises the real overlay path end to
# end. Oracle: on these axis-aligned integer-lattice fixtures every
# clip vertex is an exact lattice point, so the closed-form rectangle
# intersection in DuckDB must match bit-for-bit. At 100 TB: candidate
# generation becomes the grid-blocked join (spatial_bbox_join_blocked
# pattern); the per-pair kernel stays Arrow-batched and embarrassingly
# parallel.
@_q(
    "polygon_overlay_iou",
    f"""
    WITH rects AS ({_SQL_RECTS}),
    parsed AS (
      SELECT rect_id,
             CAST(regexp_extract(geometry, {_SQL_RECT_RE}, 1) AS DOUBLE) AS x0,
             CAST(regexp_extract(geometry, {_SQL_RECT_RE}, 2) AS DOUBLE) AS y0,
             CAST(regexp_extract(geometry, {_SQL_RECT_RE}, 3) AS DOUBLE) AS x1,
             CAST(regexp_extract(geometry, {_SQL_RECT_RE}, 6) AS DOUBLE) AS y1
      FROM rects
    ),
    zones AS (
      SELECT z AS zone_id,
             CAST((z % 4) * 16 AS DOUBLE) AS zx0,
             CAST((z // 4) * 12 AS DOUBLE) AS zy0,
             CAST((z % 4) * 16 + 16 AS DOUBLE) AS zx1,
             CAST((z // 4) * 12 + 12 AS DOUBLE) AS zy1
      FROM range(12) t(z)
    ),
    pairs AS (
      SELECT r.rect_id, z.zone_id,
             (LEAST(r.x1, z.zx1) - GREATEST(r.x0, z.zx0))
             * (LEAST(r.y1, z.zy1) - GREATEST(r.y0, z.zy0)) AS inter,
             (r.x1 - r.x0) * (r.y1 - r.y0) + 192.0 AS sum_areas
      FROM parsed r JOIN zones z
        ON r.x0 < z.zx1 AND r.x1 > z.zx0 AND r.y0 < z.zy1 AND r.y1 > z.zy0
    )
    SELECT rect_id, zone_id,
           round(inter, 9) AS inter_area,
           round(sum_areas - inter, 9) AS union_area,
           round(inter / (sum_areas - inter), 9) AS iou
    FROM pairs
    ORDER BY rect_id, zone_id
    """,
)
def q_polygon_overlay_iou(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.geometry import (
        polygon_overlay_cols,
        rect_x0,
        rect_x1,
        rect_y0,
        rect_y1,
    )

    rects = _rects(spark, sf_dir)
    zx0 = (F.col("zone_id") % 4 * 16).cast("int")
    zy0 = (F.expr("zone_id div 4") * 12).cast("int")
    zx1 = (zx0 + 16).cast("string")
    zy1 = (zy0 + 12).cast("string")
    zx0s, zy0s = zx0.cast("string"), zy0.cast("string")
    zones = spark.range(12).select(
        F.col("id").alias("zone_id"),
        F.concat(
            F.lit("POLYGON(("),
            zx0s, F.lit(" "), zy0s, F.lit(", "),
            zx1, F.lit(" "), zy0s, F.lit(", "),
            zx1, F.lit(" "), zy1, F.lit(", "),
            zx0s, F.lit(" "), zy1, F.lit(", "),
            zx0s, F.lit(" "), zy0s,
            F.lit("))"),
        ).alias("zone_geom"),
        (F.col("zone_id") % 4 * 16).cast("double").alias("zx0"),
        (F.expr("zone_id div 4") * 12).cast("double").alias("zy0"),
        (F.col("zone_id") % 4 * 16 + 16).cast("double").alias("zx1"),
        (F.expr("zone_id div 4") * 12 + 12).cast("double").alias("zy1"),
    )
    g = F.col("geometry")
    cand = rects.join(
        F.broadcast(zones),
        (rect_x0(g) < F.col("zx1"))
        & (rect_x1(g) > F.col("zx0"))
        & (rect_y0(g) < F.col("zy1"))
        & (rect_y1(g) > F.col("zy0")),
    )
    # the source parquet is one input split at every tested SF, which
    # would run the per-pair kernel on a single thread — spread the
    # candidate pairs across the cluster before the Arrow UDF (r13
    # probe: 27.9 s -> seconds at sf0.1; pure plan change, same rows)
    # lazy barrier under the global sort: orderBy's range partitioner
    # runs a SAMPLING pass over its child before the real pass, which
    # would evaluate the Arrow overlay kernel twice (stage census on
    # the concave twin: two identical ~53 exec-sec kernel stages). The
    # checkpoint materializes the kernel output once; both passes read
    # it. Same rows, half the kernel work.
    ov = cand.repartition(spark.sparkContext.defaultParallelism, "rect_id").select(
        "rect_id",
        "zone_id",
        polygon_overlay_cols(F.col("geometry"), F.col("zone_geom")).alias("ov"),
    ).localCheckpoint(eager=False)
    return ov.select(
        "rect_id",
        "zone_id",
        F.round(F.col("ov.inter_area"), 9).alias("inter_area"),
        F.round(F.col("ov.union_area"), 9).alias("union_area"),
        F.round(F.col("ov.iou"), 9).alias("iou"),
    ).orderBy("rect_id", "zone_id")


# ---------------------------------------------------------------------------
# Line geometry: ST_Length over LINESTRING WKT — the second missing
# geometry type after polygon overlay. Both engines PARSE the WKT
# (regexp ring extract -> ordered vertex explode -> lead-window
# segment pairs), so the string surface is exercised end to end, not
# just the closed form. Determinism: each segment's sqrt is computed
# once from exact integer deltas (IEEE sqrt is correctly rounded, so
# both engines produce the identical double), rounded to 12 and
# accumulated as DECIMAL(38,12) — the repo's order-free float
# accumulation discipline. At 100 TB: per-line work is a partitioned
# window over a bounded vertex count; no global state.
@_q(
    "linestring_length",
    """
    WITH lines AS (
      SELECT o_orderkey AS line_id,
             'LINESTRING(' ||
             CAST(o_orderkey % 100 AS VARCHAR) || ' ' || CAST(o_orderkey % 80 AS VARCHAR) || ', ' ||
             CAST(o_orderkey * 3 % 100 AS VARCHAR) || ' ' || CAST(o_orderkey * 7 % 80 AS VARCHAR) || ', ' ||
             CAST(o_orderkey * 11 % 100 AS VARCHAR) || ' ' || CAST(o_orderkey * 13 % 80 AS VARCHAR) || ', ' ||
             CAST(o_orderkey * 17 % 100 AS VARCHAR) || ' ' || CAST(o_orderkey * 19 % 80 AS VARCHAR) || ')'
               AS geometry
      FROM orders
    ),
    split AS (
      SELECT line_id,
             string_split(regexp_extract(geometry, 'LINESTRING\\((.*)\\)', 1), ', ')
               AS parts
      FROM lines
    ),
    verts AS (
      SELECT line_id, CAST(t.i AS INT) AS idx,
             CAST(string_split(parts[CAST(t.i AS INT)], ' ')[1] AS DOUBLE) AS x,
             CAST(string_split(parts[CAST(t.i AS INT)], ' ')[2] AS DOUBLE) AS y
      FROM split JOIN range(1, 64) t(i) ON t.i <= len(parts)
    ),
    segs AS (
      SELECT line_id, x, y,
             LEAD(x) OVER (PARTITION BY line_id ORDER BY idx) AS nx,
             LEAD(y) OVER (PARTITION BY line_id ORDER BY idx) AS ny
      FROM verts
    )
    SELECT line_id,
           round(CAST(SUM(CAST(round(sqrt((nx - x) * (nx - x) + (ny - y) * (ny - y)), 12)
                  AS DECIMAL(38,12))) AS DOUBLE), 9) AS length,
           CAST(COUNT(nx) AS BIGINT) AS n_segments
    FROM segs WHERE nx IS NOT NULL
    GROUP BY line_id ORDER BY line_id
    """,
)
def q_linestring_length(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = t(spark, sf_dir, "orders").select("o_orderkey")
    k = F.col("o_orderkey")

    def pt(mx: int, my: int) -> F.Column:
        return F.concat(
            (k * mx % 100).cast("string"), F.lit(" "), (k * my % 80).cast("string")
        )

    lines = o.select(
        k.alias("line_id"),
        F.concat(
            F.lit("LINESTRING("),
            pt(1, 1), F.lit(", "),
            pt(3, 7), F.lit(", "),
            pt(11, 13), F.lit(", "),
            pt(17, 19),
            F.lit(")"),
        ).alias("geometry"),
    )
    verts = lines.select(
        "line_id",
        F.posexplode(
            F.split(F.regexp_extract("geometry", r"LINESTRING\((.*)\)", 1), ", ")
        ).alias("idx", "pt"),
    ).select(
        "line_id",
        "idx",
        F.split("pt", " ").getItem(0).cast("double").alias("x"),
        F.split("pt", " ").getItem(1).cast("double").alias("y"),
    )
    w = Window.partitionBy("line_id").orderBy("idx")
    segs = verts.select(
        "line_id",
        "x",
        "y",
        F.lead("x").over(w).alias("nx"),
        F.lead("y").over(w).alias("ny"),
    ).where(F.col("nx").isNotNull())
    d = F.sqrt(
        (F.col("nx") - F.col("x")) * (F.col("nx") - F.col("x"))
        + (F.col("ny") - F.col("y")) * (F.col("ny") - F.col("y"))
    )
    return (
        segs.groupBy("line_id")
        .agg(
            F.round(
                F.sum(F.round(d, 12).cast("decimal(38,12)")).cast("double"), 9
            ).alias("length"),
            F.count("nx").cast("bigint").alias("n_segments"),
        )
        .orderBy("line_id")
    )


# ---------------------------------------------------------------------------
# Union area of overlapping rectangles (ST_Union cardinality, the
# coverage-dedup aggregate): per layer, the area covered by AT LEAST
# one rectangle — naive sum double-counts overlaps; the classic fix
# is a scanline. Implementation is PURE Catalyst on the integer
# lattice: explode each rect into its unit-width x-columns (bounded
# by the coordinate domain, not the data), then per (layer, column)
# merge y-intervals with the gaps-and-islands window pattern
# (running-max island detection), sum island lengths, and roll up.
# Everything is exact integer arithmetic, so the DuckDB twin is
# bit-identical. At 100 TB: work is |rects| x avg-width rows — linear
# in data with a domain-bounded constant; the shuffle key
# (layer, column) is the natural spatial partitioner.
@_q(
    "rect_union_area",
    f"""
    WITH rects AS ({_SQL_RECTS}),
    parsed AS (
      SELECT rect_id, CAST(rect_id % 8 AS BIGINT) AS layer,
             CAST(regexp_extract(geometry, {_SQL_RECT_RE}, 1) AS INTEGER) AS x0,
             CAST(regexp_extract(geometry, {_SQL_RECT_RE}, 2) AS INTEGER) AS y0,
             CAST(regexp_extract(geometry, {_SQL_RECT_RE}, 3) AS INTEGER) AS x1,
             CAST(regexp_extract(geometry, {_SQL_RECT_RE}, 6) AS INTEGER) AS y1
      FROM rects
    ),
    cols AS (
      -- DISTINCT: tie-order hazard, see polygon_union_cascaded
      SELECT DISTINCT layer, CAST(t.cx AS INTEGER) AS cx, y0, y1
      FROM parsed JOIN range(0, 200) t(cx)
        ON t.cx >= x0 AND t.cx < x1
    ),
    flagged AS (
      SELECT layer, cx, y0, y1,
             CASE WHEN y0 > COALESCE(MAX(y1) OVER (
                    PARTITION BY layer, cx ORDER BY y0, y1
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                  -2147483648)
                  THEN 1 ELSE 0 END AS new_island
      FROM cols
    ),
    islands AS (
      SELECT layer, cx, y0, y1,
             SUM(new_island) OVER (
               PARTITION BY layer, cx ORDER BY y0, y1
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS isl
      FROM flagged
    ),
    isl_len AS (
      SELECT layer, cx, isl, MAX(y1) - MIN(y0) AS ylen
      FROM islands GROUP BY layer, cx, isl
    ),
    naive AS (
      SELECT CAST(rect_id % 8 AS BIGINT) AS layer,
             COUNT(*) AS n_rects,
             CAST(SUM(CAST(x1 - x0 AS BIGINT) * (y1 - y0)) AS BIGINT)
               AS sum_rect_area
      FROM parsed GROUP BY 1
    )
    SELECT n.layer, n.n_rects, n.sum_rect_area,
           CAST(u.union_area AS BIGINT) AS union_area,
           round(CAST(u.union_area AS DOUBLE) / n.sum_rect_area, 9)
             AS coverage_ratio
    FROM naive n JOIN (
      SELECT layer, SUM(ylen) AS union_area FROM isl_len GROUP BY layer
    ) u ON u.layer = n.layer
    ORDER BY n.layer
    """,
)
def q_rect_union_area(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.geometry import rect_x0, rect_x1, rect_y0, rect_y1

    g = F.col("geometry")
    parsed = _rects(spark, sf_dir).select(
        "rect_id",
        (F.col("rect_id") % 8).cast("bigint").alias("layer"),
        rect_x0(g).cast("int").alias("x0"),
        rect_y0(g).cast("int").alias("y0"),
        rect_x1(g).cast("int").alias("x1"),
        rect_y1(g).cast("int").alias("y1"),
    )
    # distinct: tie-order hazard, see polygon_union_cascaded
    cols = parsed.select(
        "layer",
        F.explode(F.sequence(F.col("x0"), F.col("x1") - 1)).alias("cx"),
        "y0",
        "y1",
    ).distinct()
    w_ord = Window.partitionBy("layer", "cx").orderBy("y0", "y1")
    w_prev = w_ord.rowsBetween(Window.unboundedPreceding, -1)
    w_run = w_ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    flagged = cols.select(
        "layer",
        "cx",
        "y0",
        "y1",
        F.when(
            F.col("y0")
            > F.coalesce(F.max("y1").over(w_prev), F.lit(-2147483648)),
            1,
        )
        .otherwise(0)
        .alias("new_island"),
    )
    islands = flagged.select(
        "layer", "cx", "y0", "y1", F.sum("new_island").over(w_run).alias("isl")
    )
    isl_len = islands.groupBy("layer", "cx", "isl").agg(
        (F.max("y1") - F.min("y0")).alias("ylen")
    )
    union_area = isl_len.groupBy("layer").agg(
        F.sum("ylen").alias("union_area")
    )
    naive = parsed.groupBy("layer").agg(
        F.count(F.lit(1)).alias("n_rects"),
        F.sum((F.col("x1") - F.col("x0")).cast("bigint") * (F.col("y1") - F.col("y0")))
        .cast("bigint")
        .alias("sum_rect_area"),
    )
    return (
        naive.join(union_area, "layer")
        .select(
            "layer",
            "n_rects",
            "sum_rect_area",
            F.col("union_area").cast("bigint").alias("union_area"),
            F.round(
                F.col("union_area").cast("double") / F.col("sum_rect_area"), 9
            ).alias("coverage_ratio"),
        )
        .orderBy("layer")
    )


# ---------------------------------------------------------------------------
# Line-in-polygon clipping: total LINESTRING length inside each zone
# rectangle via the Liang-Barsky parametric clip (Liang & Barsky CACM
# 1984) — branchless closed form per (segment, zone): entry t =
# max(0, t_lo_x, t_lo_y), exit t = min(1, t_hi_x, t_hi_y), inside
# length = max(0, t_exit - t_entry) * |seg|. Axis-parallel segments
# take the CASE branch (containment -> full t-range, else empty) so
# no 0/0 NaN ever forms — NaN ordering differs between engines, the
# sentinel +-1e18 does not. Per-segment lengths round to 12 and
# accumulate as DECIMAL(38,12) (order-free float discipline). At
# 100 TB: zone dim broadcasts; per-pair math is pure codegen; the
# WKT parse is the same partitioned-window vertex stream as
# linestring_length.
@_q(
    "line_clip_length",
    """
    WITH lines AS (
      SELECT o_orderkey AS line_id,
             'LINESTRING(' ||
             CAST(o_orderkey % 100 AS VARCHAR) || ' ' || CAST(o_orderkey % 80 AS VARCHAR) || ', ' ||
             CAST(o_orderkey * 3 % 100 AS VARCHAR) || ' ' || CAST(o_orderkey * 7 % 80 AS VARCHAR) || ', ' ||
             CAST(o_orderkey * 11 % 100 AS VARCHAR) || ' ' || CAST(o_orderkey * 13 % 80 AS VARCHAR) || ', ' ||
             CAST(o_orderkey * 17 % 100 AS VARCHAR) || ' ' || CAST(o_orderkey * 19 % 80 AS VARCHAR) || ')'
               AS geometry
      FROM orders
    ),
    split AS (
      SELECT line_id,
             string_split(regexp_extract(geometry, 'LINESTRING\\((.*)\\)', 1), ', ')
               AS parts
      FROM lines
    ),
    verts AS (
      SELECT line_id, CAST(t.i AS INT) AS idx,
             CAST(string_split(parts[CAST(t.i AS INT)], ' ')[1] AS DOUBLE) AS x,
             CAST(string_split(parts[CAST(t.i AS INT)], ' ')[2] AS DOUBLE) AS y
      FROM split JOIN range(1, 64) t(i) ON t.i <= len(parts)
    ),
    segs AS (
      SELECT line_id, x, y,
             LEAD(x) OVER (PARTITION BY line_id ORDER BY idx) AS nx,
             LEAD(y) OVER (PARTITION BY line_id ORDER BY idx) AS ny
      FROM verts
    ),
    zones AS (
      SELECT z AS zone_id,
             CAST((z % 4) * 16 AS DOUBLE) AS zx0,
             CAST((z // 4) * 12 AS DOUBLE) AS zy0,
             CAST((z % 4) * 16 + 16 AS DOUBLE) AS zx1,
             CAST((z // 4) * 12 + 12 AS DOUBLE) AS zy1
      FROM range(12) t(z)
    ),
    pairs AS (
      SELECT s.line_id, z.zone_id,
             s.nx - s.x AS dx, s.ny - s.y AS dy,
             CASE WHEN s.nx - s.x > 0 THEN (z.zx0 - s.x) / (s.nx - s.x)
                  WHEN s.nx - s.x < 0 THEN (z.zx1 - s.x) / (s.nx - s.x)
                  WHEN s.x >= z.zx0 AND s.x <= z.zx1 THEN -1e18 ELSE 1e18
             END AS txlo,
             CASE WHEN s.nx - s.x > 0 THEN (z.zx1 - s.x) / (s.nx - s.x)
                  WHEN s.nx - s.x < 0 THEN (z.zx0 - s.x) / (s.nx - s.x)
                  WHEN s.x >= z.zx0 AND s.x <= z.zx1 THEN 1e18 ELSE -1e18
             END AS txhi,
             CASE WHEN s.ny - s.y > 0 THEN (z.zy0 - s.y) / (s.ny - s.y)
                  WHEN s.ny - s.y < 0 THEN (z.zy1 - s.y) / (s.ny - s.y)
                  WHEN s.y >= z.zy0 AND s.y <= z.zy1 THEN -1e18 ELSE 1e18
             END AS tylo,
             CASE WHEN s.ny - s.y > 0 THEN (z.zy1 - s.y) / (s.ny - s.y)
                  WHEN s.ny - s.y < 0 THEN (z.zy0 - s.y) / (s.ny - s.y)
                  WHEN s.y >= z.zy0 AND s.y <= z.zy1 THEN 1e18 ELSE -1e18
             END AS tyhi,
             sqrt((s.nx - s.x) * (s.nx - s.x) + (s.ny - s.y) * (s.ny - s.y))
               AS seg_len
      FROM segs s CROSS JOIN zones z
      WHERE s.nx IS NOT NULL
    ),
    clipped AS (
      SELECT zone_id,
             GREATEST(0.0, txlo, tylo) AS t_en,
             LEAST(1.0, txhi, tyhi) AS t_ex,
             seg_len
      FROM pairs
    )
    SELECT zone_id,
           CAST(SUM(CASE WHEN t_ex > t_en AND seg_len > 0 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_segments,
           round(CAST(SUM(CAST(round(
               CASE WHEN t_ex > t_en THEN (t_ex - t_en) * seg_len ELSE 0.0 END,
               12) AS DECIMAL(38,12))) AS DOUBLE), 9) AS clipped_length
    FROM clipped GROUP BY zone_id ORDER BY zone_id
    """,
)
def q_line_clip_length(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = t(spark, sf_dir, "orders").select("o_orderkey")
    k = F.col("o_orderkey")

    def pt(mx: int, my: int) -> F.Column:
        return F.concat(
            (k * mx % 100).cast("string"), F.lit(" "), (k * my % 80).cast("string")
        )

    lines = o.select(
        k.alias("line_id"),
        F.concat(
            F.lit("LINESTRING("),
            pt(1, 1), F.lit(", "),
            pt(3, 7), F.lit(", "),
            pt(11, 13), F.lit(", "),
            pt(17, 19),
            F.lit(")"),
        ).alias("geometry"),
    )
    verts = lines.select(
        "line_id",
        F.posexplode(
            F.split(F.regexp_extract("geometry", r"LINESTRING\((.*)\)", 1), ", ")
        ).alias("idx", "pt"),
    ).select(
        "line_id",
        "idx",
        F.split("pt", " ").getItem(0).cast("double").alias("x"),
        F.split("pt", " ").getItem(1).cast("double").alias("y"),
    )
    w = Window.partitionBy("line_id").orderBy("idx")
    segs = verts.select(
        "line_id",
        "x",
        "y",
        F.lead("x").over(w).alias("nx"),
        F.lead("y").over(w).alias("ny"),
    ).where(F.col("nx").isNotNull())
    zones = spark.range(12).select(
        F.col("id").alias("zone_id"),
        (F.col("id") % 4 * 16).cast("double").alias("zx0"),
        (F.expr("id div 4") * 12).cast("double").alias("zy0"),
        (F.col("id") % 4 * 16 + 16).cast("double").alias("zx1"),
        (F.expr("id div 4") * 12 + 12).cast("double").alias("zy1"),
    )
    dx = F.col("nx") - F.col("x")
    dy = F.col("ny") - F.col("y")

    def t_bounds(d, p, lo, hi):
        inside = (p >= F.col(lo)) & (p <= F.col(hi))
        t_lo = (
            F.when(d > 0, (F.col(lo) - p) / d)
            .when(d < 0, (F.col(hi) - p) / d)
            .otherwise(F.when(inside, F.lit(-1e18)).otherwise(F.lit(1e18)))
        )
        t_hi = (
            F.when(d > 0, (F.col(hi) - p) / d)
            .when(d < 0, (F.col(lo) - p) / d)
            .otherwise(F.when(inside, F.lit(1e18)).otherwise(F.lit(-1e18)))
        )
        return t_lo, t_hi

    txlo, txhi = t_bounds(dx, F.col("x"), "zx0", "zx1")
    tylo, tyhi = t_bounds(dy, F.col("y"), "zy0", "zy1")
    pairs = segs.crossJoin(F.broadcast(zones)).select(
        "zone_id",
        F.greatest(F.lit(0.0), txlo, tylo).alias("t_en"),
        F.least(F.lit(1.0), txhi, tyhi).alias("t_ex"),
        F.sqrt(dx * dx + dy * dy).alias("seg_len"),
    )
    return (
        pairs.groupBy("zone_id")
        .agg(
            F.sum(
                F.when((F.col("t_ex") > F.col("t_en")) & (F.col("seg_len") > 0), 1)
                .otherwise(0)
            )
            .cast("bigint")
            .alias("n_segments"),
            F.round(
                F.sum(
                    F.round(
                        F.when(
                            F.col("t_ex") > F.col("t_en"),
                            (F.col("t_ex") - F.col("t_en")) * F.col("seg_len"),
                        ).otherwise(0.0),
                        12,
                    ).cast("decimal(38,12)")
                ).cast("double"),
                9,
            ).alias("clipped_length"),
        )
        .orderBy("zone_id")
    )


# ---------------------------------------------------------------------------
# General simple-polygon area + centroid (ST_Centroid) in PURE
# Catalyst — no UDF: parse the WKT ring to an ordered vertex stream
# (the linestring_length machinery), pair consecutive vertices with a
# partitioned lead window, and evaluate the shoelace first-moment
# formulas (Cx = sum (x_i + x_{i+1}) cross_i / (3 A2), A2 = sum
# cross_i) as exact BIGINT sums with ONE final double division. The
# fixture is a five-vertex convex pentagon per part (rect + east
# bump), so this exercises genuinely non-rectangular rings; the twin
# runs the identical vertex-stream plan in DuckDB. At 100 TB this is
# the fully-codegen geometry path: no Python, no shuffle beyond the
# per-ring window.
@_q(
    "polygon_centroid_general",
    """
    WITH polys AS (
      SELECT p_partkey AS poly_id,
             'POLYGON((' || CAST(p_partkey % 32 AS VARCHAR) || ' ' || CAST(p_partkey % 24 AS VARCHAR)
             || ', ' || CAST(p_partkey % 32 + p_size AS VARCHAR) || ' ' || CAST(p_partkey % 24 AS VARCHAR)
             || ', ' || CAST(p_partkey % 32 + p_size + p_partkey % 7 + 1 AS VARCHAR) || ' ' || CAST(p_partkey % 24 + p_size AS VARCHAR)
             || ', ' || CAST(p_partkey % 32 + p_size AS VARCHAR) || ' ' || CAST(p_partkey % 24 + 2 * p_size AS VARCHAR)
             || ', ' || CAST(p_partkey % 32 AS VARCHAR) || ' ' || CAST(p_partkey % 24 + 2 * p_size AS VARCHAR)
             || ', ' || CAST(p_partkey % 32 AS VARCHAR) || ' ' || CAST(p_partkey % 24 AS VARCHAR) || '))' AS geometry
      FROM part
    ),
    split AS (
      SELECT poly_id,
             string_split(regexp_extract(geometry, 'POLYGON\\(\\((.*)\\)\\)', 1), ', ')
               AS parts
      FROM polys
    ),
    verts AS (
      SELECT poly_id, CAST(t.i AS INT) AS idx,
             CAST(string_split(parts[CAST(t.i AS INT)], ' ')[1] AS BIGINT) AS x,
             CAST(string_split(parts[CAST(t.i AS INT)], ' ')[2] AS BIGINT) AS y
      FROM split JOIN range(1, 64) t(i) ON t.i <= len(parts)
    ),
    edges AS (
      SELECT poly_id, x, y,
             LEAD(x) OVER (PARTITION BY poly_id ORDER BY idx) AS nx,
             LEAD(y) OVER (PARTITION BY poly_id ORDER BY idx) AS ny
      FROM verts
    ),
    moments AS (
      SELECT poly_id,
             CAST(SUM(x * ny - nx * y) AS BIGINT) AS a2,
             CAST(SUM((x + nx) * (x * ny - nx * y)) AS BIGINT) AS mx,
             CAST(SUM((y + ny) * (x * ny - nx * y)) AS BIGINT) AS my
      FROM edges WHERE nx IS NOT NULL
      GROUP BY poly_id
    )
    SELECT poly_id,
           round(CAST(a2 AS DOUBLE) / 2.0, 9) AS area,
           round(CAST(mx AS DOUBLE) / (3.0 * a2), 9) AS cx,
           round(CAST(my AS DOUBLE) / (3.0 * a2), 9) AS cy
    FROM moments ORDER BY poly_id
    """,
)
def q_polygon_centroid_general(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = t(spark, sf_dir, "part").select("p_partkey", "p_size")
    k, s = F.col("p_partkey"), F.col("p_size")
    x0 = (k % 32).cast("long")
    y0 = (k % 24).cast("long")

    def pt(xe, ye) -> F.Column:
        return F.concat(xe.cast("string"), F.lit(" "), ye.cast("string"))

    polys = p.select(
        k.alias("poly_id"),
        F.concat(
            F.lit("POLYGON(("),
            pt(x0, y0), F.lit(", "),
            pt(x0 + s, y0), F.lit(", "),
            pt(x0 + s + k % 7 + 1, y0 + s), F.lit(", "),
            pt(x0 + s, y0 + 2 * s), F.lit(", "),
            pt(x0, y0 + 2 * s), F.lit(", "),
            pt(x0, y0),
            F.lit("))"),
        ).alias("geometry"),
    )
    verts = polys.select(
        "poly_id",
        F.posexplode(
            F.split(F.regexp_extract("geometry", r"POLYGON\(\((.*)\)\)", 1), ", ")
        ).alias("idx", "pt"),
    ).select(
        "poly_id",
        "idx",
        F.split("pt", " ").getItem(0).cast("long").alias("x"),
        F.split("pt", " ").getItem(1).cast("long").alias("y"),
    )
    w = Window.partitionBy("poly_id").orderBy("idx")
    edges = verts.select(
        "poly_id",
        "x",
        "y",
        F.lead("x").over(w).alias("nx"),
        F.lead("y").over(w).alias("ny"),
    ).where(F.col("nx").isNotNull())
    cross = F.col("x") * F.col("ny") - F.col("nx") * F.col("y")
    moments = edges.groupBy("poly_id").agg(
        F.sum(cross).cast("bigint").alias("a2"),
        F.sum((F.col("x") + F.col("nx")) * cross).cast("bigint").alias("mx"),
        F.sum((F.col("y") + F.col("ny")) * cross).cast("bigint").alias("my"),
    )
    return moments.select(
        "poly_id",
        F.round(F.col("a2").cast("double") / 2.0, 9).alias("area"),
        F.round(F.col("mx").cast("double") / (3.0 * F.col("a2")), 9).alias("cx"),
        F.round(F.col("my").cast("double") / (3.0 * F.col("a2")), 9).alias("cy"),
    ).orderBy("poly_id")


# ---------------------------------------------------------------------------
# GEODESIC tier: haversine great-circle nearest-hub assignment — the
# planar tier above ignores Earth curvature; this is the ST_DWithin/
# nearest-neighbor form real geo data needs. Classic haversine
# (Sinnott, Sky & Telescope 1984): d = 2R asin(sqrt(sin^2(dlat/2) +
# cos(lat1) cos(lat2) sin^2(dlon/2))). Determinism: the argmin ranks
# on the distance ROUNDED to 6 with hub_id tiebreak, so libm-ulp
# differences can never flip the assignment (they are erased before
# comparison); per-hub mean accumulates round(6) distances as
# DECIMAL(38,6). Scale: hub dim broadcasts; at real hub cardinality
# the pre-filter is a geohash/grid block (see zorder/geohash ops).
@_q(
    "haversine_nearest_hub",
    """
    WITH hubs AS (
      SELECT n_nationkey AS hub_id,
             CAST((n_nationkey * 13) % 120 - 60 AS DOUBLE) AS hlat,
             CAST((n_nationkey * 29) % 360 - 180 AS DOUBLE) AS hlon
      FROM nation
    ),
    cust AS (
      SELECT c_custkey,
             CAST(c_custkey % 120 - 60 AS DOUBLE) AS clat,
             CAST((c_custkey * 3) % 360 - 180 AS DOUBLE) AS clon
      FROM customer
    ),
    dist AS (
      SELECT c.c_custkey, h.hub_id,
             round(2.0 * 6371.0 * asin(sqrt(
               sin(radians(h.hlat - c.clat) / 2) * sin(radians(h.hlat - c.clat) / 2)
               + cos(radians(c.clat)) * cos(radians(h.hlat))
               * sin(radians(h.hlon - c.clon) / 2) * sin(radians(h.hlon - c.clon) / 2)
             )), 6) AS d6
      FROM cust c CROSS JOIN hubs h
    ),
    nearest AS (
      SELECT c_custkey, hub_id, d6 FROM (
        SELECT c_custkey, hub_id, d6,
               row_number() OVER (PARTITION BY c_custkey
                                  ORDER BY d6, hub_id) AS rn
        FROM dist
      ) WHERE rn = 1
    )
    SELECT hub_id,
           CAST(COUNT(*) AS BIGINT) AS n_customers,
           round(CAST(SUM(CAST(d6 AS DECIMAL(38,6))) AS DOUBLE) / COUNT(*), 6)
             AS avg_km,
           MAX(d6) AS max_km
    FROM nearest GROUP BY hub_id ORDER BY hub_id
    """,
)
def q_haversine_nearest_hub(spark: SparkSession, sf_dir: str) -> DataFrame:
    hubs = t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("hub_id"),
        ((F.col("n_nationkey") * 13) % 120 - 60).cast("double").alias("hlat"),
        ((F.col("n_nationkey") * 29) % 360 - 180).cast("double").alias("hlon"),
    )
    cust = t(spark, sf_dir, "customer").select(
        "c_custkey",
        (F.col("c_custkey") % 120 - 60).cast("double").alias("clat"),
        ((F.col("c_custkey") * 3) % 360 - 180).cast("double").alias("clon"),
    )
    dlat = F.radians(F.col("hlat") - F.col("clat")) / 2
    dlon = F.radians(F.col("hlon") - F.col("clon")) / 2
    hav = F.sin(dlat) * F.sin(dlat) + F.cos(F.radians("clat")) * F.cos(
        F.radians("hlat")
    ) * F.sin(dlon) * F.sin(dlon)
    d6 = F.round(2.0 * 6371.0 * F.asin(F.sqrt(hav)), 6)
    dist = cust.crossJoin(F.broadcast(hubs)).select(
        "c_custkey", "hub_id", d6.alias("d6")
    )
    w = Window.partitionBy("c_custkey").orderBy("d6", "hub_id")
    nearest = (
        dist.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("c_custkey", "hub_id", "d6")
    )
    return (
        nearest.groupBy("hub_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_customers"),
            F.round(
                F.sum(F.col("d6").cast("decimal(38,6)")).cast("double")
                / F.count(F.lit(1)),
                6,
            ).alias("avg_km"),
            F.max("d6").alias("max_km"),
        )
        .orderBy("hub_id")
    )


# ---------------------------------------------------------------------------
# Spatial autocorrelation: Moran's I (Moran 1950) and Geary's C
# (Geary 1954) of the event intensity surface on a 16x16 grid with
# rook-adjacency weights — THE first-order statistics of any spatial
# analysis ("is this clustered, random, or dispersed?"). Exactness
# trick: with n = 256 cells the mean is S/256, so u_i = 256 x_i - S
# is an exact BIGINT and both numerators/denominators reduce to pure
# integer aggregates (sum w u_i u_j, sum u_i^2, sum w (u_i - u_j)^2);
# each statistic is ONE double division at the end — no rounding
# discipline needed at all. Scale: the cell aggregation is the only
# data-sized shuffle; the 256-cell lattice self-join is broadcast
# trivia at any SF.
@_q(
    "spatial_autocorrelation",
    """
    WITH grid AS (
      SELECT CAST(g.i % 16 AS BIGINT) AS gx, CAST(g.i // 16 AS BIGINT) AS gy
      FROM range(256) g(i)
    ),
    counts AS (
      SELECT CAST(event_id % 16 AS BIGINT) AS gx,
             CAST((event_id // 16) % 16 AS BIGINT) AS gy,
             COUNT(*) AS c
      FROM events GROUP BY 1, 2
    ),
    cells AS (
      SELECT g.gx, g.gy, COALESCE(c.c, 0) AS x
      FROM grid g LEFT JOIN counts c ON c.gx = g.gx AND c.gy = g.gy
    ),
    tot AS (SELECT SUM(x) AS s FROM cells),
    u AS (
      SELECT gx, gy, 256 * x - tot.s AS u FROM cells, tot
    ),
    pairs AS (
      SELECT a.u AS ua, b.u AS ub
      FROM u a JOIN u b
        ON abs(a.gx - b.gx) + abs(a.gy - b.gy) = 1
    ),
    aggs AS (
      SELECT (SELECT COUNT(*) FROM pairs) AS sw,
             (SELECT SUM(ua * ub) FROM pairs) AS suu,
             (SELECT SUM((ua - ub) * (ua - ub)) FROM pairs) AS sdd,
             (SELECT SUM(u * u) FROM u) AS su2
    )
    SELECT CAST(256 AS BIGINT) AS n_cells,
           CAST(sw AS BIGINT) AS sum_w,
           round(256.0 * suu / (sw * CAST(su2 AS DOUBLE)), 9) AS morans_i,
           round(255.0 * sdd / (2.0 * sw * CAST(su2 AS DOUBLE)), 9)
             AS gearys_c
    FROM aggs
    """,
)
def q_spatial_autocorrelation(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events").select("event_id")
    counts = ev.groupBy(
        (F.col("event_id") % 16).cast("bigint").alias("gx"),
        (F.expr("event_id div 16") % 16).cast("bigint").alias("gy"),
    ).agg(F.count(F.lit(1)).alias("c"))
    grid = spark.range(256).select(
        (F.col("id") % 16).cast("bigint").alias("gx"),
        F.expr("id div 16").cast("bigint").alias("gy"),
    )
    cells = grid.join(counts, ["gx", "gy"], "left").select(
        "gx", "gy", F.coalesce(F.col("c"), F.lit(0)).alias("x")
    )
    tot = cells.agg(F.sum("x").alias("s"))
    u = cells.crossJoin(F.broadcast(tot)).select(
        "gx", "gy", (256 * F.col("x") - F.col("s")).alias("u")
    ).localCheckpoint(eager=True)  # read by both pair sides + su2
    a = u.select(
        F.col("gx").alias("ax"), F.col("gy").alias("ay"), F.col("u").alias("ua")
    )
    b = u.select(
        F.col("gx").alias("bx"), F.col("gy").alias("by"), F.col("u").alias("ub")
    )
    pairs = a.join(
        F.broadcast(b),
        (F.abs(F.col("ax") - F.col("bx")) + F.abs(F.col("ay") - F.col("by")))
        == 1,
    )
    # u ~ 256 * cell_count at scale: u^2 overflows BIGINT near 1e10
    # events/cell, so products accumulate as DECIMAL(38,0) (exact;
    # DuckDB's SUM(BIGINT) -> HUGEINT is already 128-bit)
    ua_d = F.col("ua").cast("decimal(38,0)")
    pagg = pairs.agg(
        F.count(F.lit(1)).alias("sw"),
        F.sum(ua_d * F.col("ub")).alias("suu"),
        F.sum(
            (ua_d - F.col("ub")) * (ua_d - F.col("ub"))
        ).alias("sdd"),
    )
    su2 = u.agg(
        F.sum(F.col("u").cast("decimal(38,0)") * F.col("u")).alias("su2")
    )
    return (
        pagg.crossJoin(F.broadcast(su2))
        .select(
            F.lit(256).cast("bigint").alias("n_cells"),
            F.col("sw").cast("bigint").alias("sum_w"),
            F.round(
                256.0 * F.col("suu") / (F.col("sw") * F.col("su2").cast("double")),
                9,
            ).alias("morans_i"),
            F.round(
                255.0
                * F.col("sdd")
                / (2.0 * F.col("sw") * F.col("su2").cast("double")),
                9,
            ).alias("gearys_c"),
        )
    )


# ---------------------------------------------------------------------------
# Ripley's K / L point-pattern statistics (Ripley JRSS-B 1977, no
# edge correction — stated estimator): K(r) = A/(n(n-1)) * #{ordered
# pairs with 0 < d <= r}. Points are Lehmer-hashed event locations
# on a 256x256 domain, aggregated to (location, multiplicity) FIRST
# — so the pair join runs on distinct locations (bounded by the
# domain, not the event count) and the pair tally is the exact
# integer sum m_a*m_b minus the n self-pairs. Candidate generation
# is GRID-BLOCKED at cell = r_max: each location probes only its 3x3
# neighborhood (the banding discipline every near-dup op here uses)
# — never all-pairs. Distances compare as integer d^2 <= r^2: the
# pair counts are exact BIGINTs and K/L are one division + sqrt each.
@_q(
    "ripleys_k",
    """
    WITH pts AS (
      SELECT ((event_id * 48271) % 2147483647) % 256 AS px,
             (((event_id * 48271) % 2147483647) // 256) % 256 AS py,
             COUNT(*) AS m
      FROM events GROUP BY 1, 2
    ),
    n_tot AS (SELECT SUM(m) AS n FROM pts),
    cells AS (
      SELECT px, py, m, px // 16 AS cx, py // 16 AS cy FROM pts
    ),
    probes AS (
      SELECT c.px, c.py, c.m, c.cx + dx.d AS ncx, c.cy + dy.d AS ncy
      FROM cells c,
           (SELECT unnest(generate_series(-1, 1)) AS d) dx,
           (SELECT unnest(generate_series(-1, 1)) AS d) dy
    ),
    cand AS (
      SELECT a.m AS ma, b.m AS mb,
             (a.px - b.px) * (a.px - b.px)
             + (a.py - b.py) * (a.py - b.py) AS d2
      FROM probes a JOIN cells b ON b.cx = a.ncx AND b.cy = a.ncy
    ),
    tallies AS (
      SELECT CAST(SUM(CASE WHEN d2 <= 16 THEN ma * mb ELSE 0 END) AS BIGINT) AS s4,
             CAST(SUM(CASE WHEN d2 <= 64 THEN ma * mb ELSE 0 END) AS BIGINT) AS s8,
             CAST(SUM(CASE WHEN d2 <= 256 THEN ma * mb ELSE 0 END) AS BIGINT) AS s16
      FROM cand
    ),
    radii AS (
      SELECT * FROM (VALUES (4, 0), (8, 1), (16, 2)) v(r, k)
    )
    SELECT CAST(r.r AS BIGINT) AS r,
           CAST(CASE r.k WHEN 0 THEN t.s4 WHEN 1 THEN t.s8 ELSE t.s16 END
                - nt.n AS BIGINT) AS n_pairs,
           round(65536.0 * (CASE r.k WHEN 0 THEN t.s4 WHEN 1 THEN t.s8
                            ELSE t.s16 END - nt.n)
                 / (CAST(nt.n AS DOUBLE) * (nt.n - 1)), 9) AS k_r,
           round(sqrt(65536.0 * (CASE r.k WHEN 0 THEN t.s4 WHEN 1 THEN t.s8
                                 ELSE t.s16 END - nt.n)
                 / (CAST(nt.n AS DOUBLE) * (nt.n - 1)) / pi()), 9) AS l_r
    FROM radii r, tallies t, n_tot nt
    ORDER BY r
    """,
)
def q_ripleys_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events").select("event_id")
    h = (F.col("event_id") * 48271) % 2147483647
    pts = ev.groupBy(
        (h % 256).alias("px"),
        (F.expr("((event_id * 48271) % 2147483647) div 256") % 256).alias("py"),
    ).agg(F.count(F.lit(1)).alias("m"))
    cells = pts.select(
        "px",
        "py",
        "m",
        F.expr("px div 16").alias("cx"),
        F.expr("py div 16").alias("cy"),
    ).localCheckpoint(eager=True)  # probe + build sides
    offs = (
        spark.range(-1, 2)
        .select(F.col("id").alias("dx"))
        .crossJoin(spark.range(-1, 2).select(F.col("id").alias("dy")))
    )
    probes = cells.crossJoin(F.broadcast(offs)).select(
        "px",
        "py",
        "m",
        (F.col("cx") + F.col("dx")).alias("ncx"),
        (F.col("cy") + F.col("dy")).alias("ncy"),
    )
    bside = cells.select(
        F.col("px").alias("bx"),
        F.col("py").alias("by"),
        F.col("m").alias("mb"),
        F.col("cx").alias("ncx"),
        F.col("cy").alias("ncy"),
    )
    d2 = (F.col("px") - F.col("bx")) * (F.col("px") - F.col("bx")) + (
        F.col("py") - F.col("by")
    ) * (F.col("py") - F.col("by"))
    # Two-level exact aggregation (r13 probe: 19.0 s -> ~2 s at sf0.1):
    # per a-site, sum neighbor multiplicities per radius in pure-BIGINT
    # codegen (map-side combinable — the shuffle carries <= |sites|
    # rows), THEN multiply by m_a as DECIMAL(38,0) on the tiny output.
    # Same integers by associativity; multiplicity products still never
    # overflow the final decimal lattice at extreme SF. BIGINT bound on
    # the inner sums: <= 2304 neighbor sites x per-site m — safe past
    # 1e15 events.
    # pin the join's partition count: the probe side is only ~20 MB,
    # so AQE would coalesce the exchange to ONE partition and the
    # 3x3-block join would materialize its ~|sites| x density output
    # rows in a single task (r13 probe: this, not the decimal math,
    # was the residual 18 s) — an explicit repartition is exempt from
    # AQE coalescing
    nb = (
        probes.repartition(
            spark.sparkContext.defaultParallelism, "ncx", "ncy"
        )
        .join(bside, ["ncx", "ncy"])
        .groupBy("px", "py", "m")
        .agg(
            *[
                F.sum(
                    F.when(d2 <= r * r, F.col("mb")).otherwise(F.lit(0))
                ).alias(f"nm{r}")
                for r in (4, 8, 16)
            ]
        )
    )
    tall = nb.agg(
        *[
            F.sum(F.col("m").cast("decimal(38,0)") * F.col(f"nm{r}"))
            .cast("decimal(38,0)")
            .alias(f"s{r}")
            for r in (4, 8, 16)
        ]
    )
    n_tot = pts.agg(F.sum("m").alias("n"))
    # the 3-radius fan-out below reads `base` three times; without a
    # barrier each arm re-runs the whole 3x3 neighbor join + tally
    # (stage census: 3 identical ~18 exec-sec stages). One eager
    # checkpoint of the single (s4, s8, s16, n) row collapses that to
    # one pass — pure plan dedup, same values.
    base = tall.crossJoin(F.broadcast(n_tot)).localCheckpoint(eager=True)
    arms = None
    for r in (4, 8, 16):
        pairs = F.col(f"s{r}") - F.col("n")
        k_r = 65536.0 * pairs / (F.col("n").cast("double") * (F.col("n") - 1))
        arm = base.select(
            F.lit(r).cast("bigint").alias("r"),
            pairs.cast("bigint").alias("n_pairs"),
            F.round(k_r, 9).alias("k_r"),
            F.round(F.sqrt(k_r / float(__import__("math").pi)), 9).alias("l_r"),
        )
        arms = arm if arms is None else arms.unionByName(arm)
    return arms.orderBy("r")


# ---------------------------------------------------------------------------
# Geohash encoding (Niemeyer 2008, public domain) — the standard
# base-32 spatial bucketing key (the string-prefix analog of the
# z-order key the zorder_clustering op builds): quantize lat/lon to
# 20 bits each, interleave with the classic Morton magic-number
# spread (5 shift-mask steps, branchless), emit 8 base-32 chars from
# 5-bit groups. Everything is 64-bit integer arithmetic + one
# deterministic double quantization, so the oracle is bit-exact. At
# 100 TB the geohash prefix IS the partition key: equal prefixes =
# nearby points, so range scans and neighbor joins prune by prefix.
@_q(
    "geohash_encode",
    """
    WITH cust AS (
      SELECT c_custkey,
             CAST(c_custkey % 120 - 60 AS DOUBLE) AS lat,
             CAST((c_custkey * 3) % 360 - 180 AS DOUBLE) AS lon
      FROM customer
    ),
    q AS (
      SELECT c_custkey,
             LEAST(CAST(floor((lat + 90.0) / 180.0 * 1048576.0) AS BIGINT),
                   1048575) AS latq,
             LEAST(CAST(floor((lon + 180.0) / 360.0 * 1048576.0) AS BIGINT),
                   1048575) AS lonq
      FROM cust
    ),
    s1 AS (
      SELECT c_custkey,
             (latq | (latq << 16)) & 281470681808895 AS a,
             (lonq | (lonq << 16)) & 281470681808895 AS b
      FROM q
    ),
    s2 AS (
      SELECT c_custkey,
             (a | (a << 8)) & 71777214294589695 AS a,
             (b | (b << 8)) & 71777214294589695 AS b
      FROM s1
    ),
    s3 AS (
      SELECT c_custkey,
             (a | (a << 4)) & 1085102592571150095 AS a,
             (b | (b << 4)) & 1085102592571150095 AS b
      FROM s2
    ),
    s4 AS (
      SELECT c_custkey,
             (a | (a << 2)) & 3689348814741910323 AS a,
             (b | (b << 2)) & 3689348814741910323 AS b
      FROM s3
    ),
    s5 AS (
      SELECT c_custkey,
             (a | (a << 1)) & 6148914691236517205 AS a,
             (b | (b << 1)) & 6148914691236517205 AS b
      FROM s4
    ),
    morton AS (
      SELECT c_custkey, (b << 1) | a AS v FROM s5
    )
    SELECT c_custkey,
           substring('0123456789bcdefghjkmnpqrstuvwxyz',
                     CAST(((v >> 35) & 31) + 1 AS INT), 1)
           || substring('0123456789bcdefghjkmnpqrstuvwxyz',
                     CAST(((v >> 30) & 31) + 1 AS INT), 1)
           || substring('0123456789bcdefghjkmnpqrstuvwxyz',
                     CAST(((v >> 25) & 31) + 1 AS INT), 1)
           || substring('0123456789bcdefghjkmnpqrstuvwxyz',
                     CAST(((v >> 20) & 31) + 1 AS INT), 1)
           || substring('0123456789bcdefghjkmnpqrstuvwxyz',
                     CAST(((v >> 15) & 31) + 1 AS INT), 1)
           || substring('0123456789bcdefghjkmnpqrstuvwxyz',
                     CAST(((v >> 10) & 31) + 1 AS INT), 1)
           || substring('0123456789bcdefghjkmnpqrstuvwxyz',
                     CAST(((v >> 5) & 31) + 1 AS INT), 1)
           || substring('0123456789bcdefghjkmnpqrstuvwxyz',
                     CAST((v & 31) + 1 AS INT), 1) AS geohash8
    FROM morton ORDER BY c_custkey
    """,
)
def q_geohash_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = t(spark, sf_dir, "customer").select(
        "c_custkey",
        (F.col("c_custkey") % 120 - 60).cast("double").alias("lat"),
        ((F.col("c_custkey") * 3) % 360 - 180).cast("double").alias("lon"),
    )
    latq = F.least(
        F.floor((F.col("lat") + 90.0) / 180.0 * 1048576.0).cast("bigint"),
        F.lit(1048575),
    )
    lonq = F.least(
        F.floor((F.col("lon") + 180.0) / 360.0 * 1048576.0).cast("bigint"),
        F.lit(1048575),
    )

    def spread(v: F.Column) -> F.Column:
        # classic 32->64 Morton spread: bit k of v lands at bit 2k
        v = (v.bitwiseOR(F.shiftleft(v, 16))).bitwiseAND(
            F.lit(281470681808895)  # 0x0000FFFF0000FFFF
        )
        v = (v.bitwiseOR(F.shiftleft(v, 8))).bitwiseAND(
            F.lit(71777214294589695)  # 0x00FF00FF00FF00FF
        )
        v = (v.bitwiseOR(F.shiftleft(v, 4))).bitwiseAND(
            F.lit(1085102592571150095)  # 0x0F0F0F0F0F0F0F0F
        )
        v = (v.bitwiseOR(F.shiftleft(v, 2))).bitwiseAND(
            F.lit(3689348814741910323)  # 0x3333333333333333
        )
        v = (v.bitwiseOR(F.shiftleft(v, 1))).bitwiseAND(
            F.lit(6148914691236517205)  # 0x5555555555555555
        )
        return v

    v = F.shiftleft(spread(lonq), 1).bitwiseOR(spread(latq))
    alphabet = "0123456789bcdefghjkmnpqrstuvwxyz"
    chars = [
        F.element_at(
            F.array(*[F.lit(c) for c in alphabet]),
            (
                F.shiftrightunsigned(v, sh).bitwiseAND(F.lit(31)) + 1
            ).cast("int"),
        )
        for sh in (35, 30, 25, 20, 15, 10, 5, 0)
    ]
    return cust.select(
        "c_custkey", F.concat(*chars).alias("geohash8")
    ).orderBy("c_custkey")


# ---------------------------------------------------------------------------
# Empirical semivariogram (Matheron 1963) — kriging's first step:
# gamma(h) = 1/(2 N_h) * sum over point pairs in distance bin h of
# (v_i - v_j)^2. Exactness: values quantize to integer cents, and the
# pair sum NEVER enumerates events — per location we keep the
# sufficient statistics (m, S = sum v, Q = sum v^2), and the full
# event-pair sum between locations a,b collapses to the identity
# sum_ij (vi - vj)^2 = m_b Q_a + m_a Q_b - 2 S_a S_b, all BIGINT.
# Candidate pairs are the same 16-cell 3x3 block join Ripley's K
# uses (max binned distance = 16), so work is locations x bounded
# neighborhood at any SF. One double division per bin at the end.
@_q(
    "empirical_variogram",
    """
    WITH pts AS (
      SELECT ((event_id * 48271) % 2147483647) % 256 AS px,
             (((event_id * 48271) % 2147483647) // 256) % 256 AS py,
             COUNT(*) AS m,
             SUM(CAST(round(value * 100) AS BIGINT)) AS s,
             SUM(CAST(round(value * 100) AS BIGINT)
                 * CAST(round(value * 100) AS BIGINT)) AS q
      FROM events GROUP BY 1, 2
    ),
    cells AS (
      SELECT px, py, m, s, q, px // 16 AS cx, py // 16 AS cy FROM pts
    ),
    probes AS (
      SELECT c.px, c.py, c.m, c.s, c.q, c.cx + dx.d AS ncx, c.cy + dy.d AS ncy
      FROM cells c,
           (SELECT unnest(generate_series(-1, 1)) AS d) dx,
           (SELECT unnest(generate_series(-1, 1)) AS d) dy
    ),
    cand AS (
      SELECT (a.px - b.px) * (a.px - b.px)
             + (a.py - b.py) * (a.py - b.py) AS d2,
             a.m * b.m AS npairs,
             b.m * a.q + a.m * b.q - 2 * a.s * b.s AS ss
      FROM probes a JOIN cells b ON b.cx = a.ncx AND b.cy = a.ncy
      WHERE (a.px - b.px) * (a.px - b.px)
            + (a.py - b.py) * (a.py - b.py) > 0
    ),
    binned AS (
      SELECT CASE WHEN d2 <= 4 THEN 2 WHEN d2 <= 16 THEN 4
                  WHEN d2 <= 64 THEN 8 ELSE 16 END AS h,
             npairs, ss
      FROM cand WHERE d2 <= 256
    )
    SELECT CAST(h AS BIGINT) AS h,
           CAST(SUM(npairs) AS BIGINT) AS n_pairs,
           round(CAST(SUM(ss) AS DOUBLE)
                 / (2.0 * SUM(npairs) * 10000.0), 6) AS gamma
    FROM binned GROUP BY h ORDER BY h
    """,
)
def q_empirical_variogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events").select("event_id", "value")
    h = (F.col("event_id") * 48271) % 2147483647
    cents = F.round(F.col("value") * 100, 0).cast("bigint")
    pts = ev.groupBy(
        (h % 256).alias("px"),
        (F.expr("((event_id * 48271) % 2147483647) div 256") % 256).alias("py"),
    ).agg(
        F.count(F.lit(1)).alias("m"),
        F.sum(cents).alias("s"),
        F.sum(cents * cents).alias("q"),
    )
    cells = pts.select(
        "*",
        F.expr("px div 16").alias("cx"),
        F.expr("py div 16").alias("cy"),
    ).localCheckpoint(eager=True)
    offs = (
        spark.range(-1, 2)
        .select(F.col("id").alias("dx"))
        .crossJoin(spark.range(-1, 2).select(F.col("id").alias("dy")))
    )
    probes = cells.crossJoin(F.broadcast(offs)).select(
        "px",
        "py",
        "m",
        "s",
        "q",
        (F.col("cx") + F.col("dx")).alias("ncx"),
        (F.col("cy") + F.col("dy")).alias("ncy"),
    )
    bside = cells.select(
        F.col("px").alias("bx"),
        F.col("py").alias("by"),
        F.col("m").alias("mb"),
        F.col("s").alias("sb"),
        F.col("q").alias("qb"),
        F.col("cx").alias("ncx"),
        F.col("cy").alias("ncy"),
    )
    d2 = (F.col("px") - F.col("bx")) * (F.col("px") - F.col("bx")) + (
        F.col("py") - F.col("by")
    ) * (F.col("py") - F.col("by"))
    # Two-level exact aggregation (r13 probe: 50.6 s -> ~2 s at sf0.1).
    # The candidate join emits ~|sites| x 3x3-block-density rows; doing
    # the DECIMAL(38,0) products per CANDIDATE made the whole join run
    # BigDecimal arithmetic. Instead: (1) per a-site and lag bin, sum
    # the neighbor sufficient statistics (sum m_b, sum s_b, sum q_b)
    # in pure-BIGINT codegen — map-side combinable, so the shuffle
    # carries <= |sites| x 4 rows; (2) apply the per-site decimal
    # products q_a*sum(m_b) + m_a*sum(q_b) - 2 s_a*sum(s_b) on that
    # tiny output. Same integers by associativity of integer addition.
    # BIGINT bound: neighbor sums over <= 2304 in-range sites of
    # per-site q <= m*(max cents)^2 stay under 2^63 to ~2.5e12 events
    # (beyond the 100 TB target); past that, widen step (1) to decimal.
    nb = (
        probes.repartition(  # AQE would single-task this join (see ripleys_k)
            spark.sparkContext.defaultParallelism, "ncx", "ncy"
        )
        .join(bside, ["ncx", "ncy"])
        .where(d2 > 0)
        .where(d2 <= 256)
        .groupBy(
            "px",
            "py",
            "m",
            "s",
            "q",
            F.when(d2 <= 4, 2)
            .when(d2 <= 16, 4)
            .when(d2 <= 64, 8)
            .otherwise(16)
            .alias("h"),
        )
        .agg(
            F.sum("mb").alias("nm"),
            F.sum("sb").alias("nsum"),
            F.sum("qb").alias("nq"),
        )
    )
    per_site = nb.select(
        "h",
        (F.col("m").cast("decimal(38,0)") * F.col("nm")).alias("npairs"),
        (
            F.col("nm").cast("decimal(38,0)") * F.col("q")
            + F.col("m").cast("decimal(38,0)") * F.col("nq")
            - 2 * F.col("s").cast("decimal(38,0)") * F.col("nsum")
        ).alias("ss"),
    )
    return (
        per_site.groupBy("h")
        .agg(
            F.sum("npairs").cast("bigint").alias("n_pairs"),
            F.round(
                F.sum("ss").cast("double")
                / (2.0 * F.sum("npairs") * 10000.0),
                6,
            ).alias("gamma"),
        )
        .select(F.col("h").cast("bigint").alias("h"), "n_pairs", "gamma")
        .orderBy("h")
    )


# ---------------------------------------------------------------------------
# IDW surface grid (Shepard 1968) of the event-value surface onto an
# 8x8 probe grid — the BLOCKED-JOIN scale form of the broadcast-grid
# idw_interpolation above (different fixture, different search
# structure: 3x3 cell equi-join instead of small-grid broadcast).
# 8x8 probe grid — the classic deterministic spatial interpolator.
# Exactness: weights QUANTIZE to integers (W = 10^9 div d^2 — a
# fixed-point 1/d^2, stated estimator), values quantize to cents, and
# both the numerator sum(W * S_loc) and denominator sum(W * m_loc)
# accumulate as DECIMAL(38,0) (exact at any SF; Spark BIGINT sums
# would overflow first). Per-location sufficient statistics (m, S)
# mean events are never enumerated per probe; the search radius 32 is
# a 3x3 block join on 32-px cells — bounded neighborhood at any SF.
# One double division per probe.
@_q(
    "idw_surface_grid",
    """
    WITH pts AS (
      SELECT ((event_id * 48271) % 2147483647) % 256 AS px,
             (((event_id * 48271) % 2147483647) // 256) % 256 AS py,
             COUNT(*) AS m,
             SUM(CAST(round(value * 100) AS BIGINT)) AS s
      FROM events GROUP BY 1, 2
    ),
    cells AS (
      SELECT px, py, m, s, px // 32 AS cx, py // 32 AS cy FROM pts
    ),
    probes AS (
      SELECT CAST(g.i % 8 AS BIGINT) AS gx, CAST(g.i // 8 AS BIGINT) AS gy,
             CAST(g.i % 8 AS BIGINT) * 32 + 16 AS qx,
             CAST(g.i // 8 AS BIGINT) * 32 + 16 AS qy
      FROM range(64) g(i)
    ),
    expanded AS (
      SELECT p.gx, p.gy, p.qx, p.qy,
             p.qx // 32 + dx.d AS ncx, p.qy // 32 + dy.d AS ncy
      FROM probes p,
           (SELECT unnest(generate_series(-1, 1)) AS d) dx,
           (SELECT unnest(generate_series(-1, 1)) AS d) dy
    ),
    neigh AS (
      SELECT e.gx, e.gy,
             (e.qx - c.px) * (e.qx - c.px)
             + (e.qy - c.py) * (e.qy - c.py) AS d2,
             c.m, c.s
      FROM expanded e JOIN cells c ON c.cx = e.ncx AND c.cy = e.ncy
    ),
    weighted AS (
      SELECT gx, gy,
             CAST(CASE WHEN d2 = 0 THEN 1000000000
                       ELSE 1000000000 // d2 END AS DECIMAL(38,0)) AS w,
             m, s
      FROM neigh WHERE d2 <= 1024
    )
    SELECT gx, gy,
           CAST(COUNT(*) AS BIGINT) AS n_locations,
           round(CAST(SUM(w * s) AS DOUBLE)
                 / (CAST(SUM(w * m) AS DOUBLE) * 100.0), 6) AS idw_value
    FROM weighted GROUP BY gx, gy ORDER BY gx, gy
    """,
)
def q_idw_surface_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events").select("event_id", "value")
    cents = F.round(F.col("value") * 100, 0).cast("bigint")
    pts = ev.groupBy(
        ((F.col("event_id") * 48271) % 2147483647 % 256).alias("px"),
        (F.expr("((event_id * 48271) % 2147483647) div 256") % 256).alias("py"),
    ).agg(F.count(F.lit(1)).alias("m"), F.sum(cents).alias("s"))
    cells = pts.select(
        "*",
        F.expr("px div 32").alias("ncx"),
        F.expr("py div 32").alias("ncy"),
    )
    probes = spark.range(64).select(
        (F.col("id") % 8).cast("bigint").alias("gx"),
        F.expr("id div 8").cast("bigint").alias("gy"),
        ((F.col("id") % 8) * 32 + 16).cast("bigint").alias("qx"),
        (F.expr("id div 8") * 32 + 16).cast("bigint").alias("qy"),
    )
    offs = (
        spark.range(-1, 2)
        .select(F.col("id").alias("dx"))
        .crossJoin(spark.range(-1, 2).select(F.col("id").alias("dy")))
    )
    expanded = probes.crossJoin(F.broadcast(offs)).select(
        "gx",
        "gy",
        "qx",
        "qy",
        (F.expr("qx div 32") + F.col("dx")).alias("ncx"),
        (F.expr("qy div 32") + F.col("dy")).alias("ncy"),
    )
    d2 = (F.col("qx") - F.col("px")) * (F.col("qx") - F.col("px")) + (
        F.col("qy") - F.col("py")
    ) * (F.col("qy") - F.col("py"))
    neigh = (
        F.broadcast(expanded)
        .join(cells, ["ncx", "ncy"])
        .select("gx", "gy", d2.alias("d2"), "m", "s")
        .where(F.col("d2") <= 1024)
    )
    w = (
        F.when(F.col("d2") == 0, F.lit(1000000000))
        .otherwise(F.expr("1000000000 div d2"))
        .cast("decimal(38,0)")
    )
    return (
        neigh.select("gx", "gy", w.alias("w"), "m", "s")
        .groupBy("gx", "gy")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_locations"),
            F.round(
                F.sum(F.col("w") * F.col("s")).cast("double")
                / (F.sum(F.col("w") * F.col("m")).cast("double") * 100.0),
                6,
            ).alias("idw_value"),
        )
        .orderBy("gx", "gy")
    )


# ---------------------------------------------------------------------------
# Clark-Evans nearest-neighbor test (Clark & Evans, Ecology 1954):
# R = mean-NN-distance / E[NN under CSR] with E = 0.5 sqrt(A/n) and
# z = (D - E) / (0.26136 sqrt(A) / n). Estimator as implemented
# (stated): events co-located on a hashed pixel have NN distance 0
# (multiplicity >= 2); singleton locations take the min distance to
# any location in their 3x3 16-px block neighborhood, CENSORED at
# d > 16 (censored singletons are excluded and counted — at lattice
# densities beyond sf0.001 censoring is empty). Min-d^2 is an exact
# integer; its sqrt rounds to 12 and accumulates as DECIMAL(38,12).
@_q(
    "clark_evans_nn",
    """
    WITH pts AS (
      SELECT ((event_id * 48271) % 2147483647) % 256 AS px,
             (((event_id * 48271) % 2147483647) // 256) % 256 AS py,
             COUNT(*) AS m
      FROM events GROUP BY 1, 2
    ),
    cells AS (
      SELECT px, py, m, px // 16 AS cx, py // 16 AS cy FROM pts
    ),
    probes AS (
      SELECT c.px, c.py, c.m, c.cx + dx.d AS ncx, c.cy + dy.d AS ncy
      FROM cells c,
           (SELECT unnest(generate_series(-1, 1)) AS d) dx,
           (SELECT unnest(generate_series(-1, 1)) AS d) dy
      WHERE c.m = 1
    ),
    nn AS (
      SELECT a.px, a.py,
             MIN((a.px - b.px) * (a.px - b.px)
                 + (a.py - b.py) * (a.py - b.py)) AS mind2
      FROM probes a JOIN cells b ON b.cx = a.ncx AND b.cy = a.ncy
      WHERE (a.px - b.px) * (a.px - b.px)
            + (a.py - b.py) * (a.py - b.py) > 0
      GROUP BY a.px, a.py
    ),
    singles AS (
      SELECT SUM(CAST(round(sqrt(CAST(mind2 AS DOUBLE)), 12)
                      AS DECIMAL(38,12))) AS sd,
             COUNT(*) AS n1
      FROM nn WHERE mind2 <= 256
    ),
    dupes AS (
      SELECT COALESCE(SUM(m), 0) AS n2 FROM pts WHERE m >= 2
    ),
    censored AS (
      SELECT COUNT(*) AS n_cens FROM nn WHERE mind2 > 256
    ),
    agg AS (
      SELECT s.sd AS sd, s.n1 + d.n2 AS n FROM singles s, dupes d
    )
    SELECT CAST(n AS BIGINT) AS n_points,
           CAST(c.n_cens AS BIGINT) AS n_censored,
           round(CAST(sd AS DOUBLE) / n, 9) AS mean_nn,
           round(0.5 * sqrt(65536.0 / n), 9) AS expected_nn,
           round(CAST(sd AS DOUBLE) / n / (0.5 * sqrt(65536.0 / n)), 9)
             AS ce_ratio,
           round((round(CAST(sd AS DOUBLE) / n, 9)
                  - round(0.5 * sqrt(65536.0 / n), 9))
                 / (0.26136 * sqrt(65536.0) / CAST(n AS DOUBLE)), 6) AS z
    FROM agg, censored c
    """,
)
def q_clark_evans_nn(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events").select("event_id")
    pts = ev.groupBy(
        ((F.col("event_id") * 48271) % 2147483647 % 256).alias("px"),
        (F.expr("((event_id * 48271) % 2147483647) div 256") % 256).alias("py"),
    ).agg(F.count(F.lit(1)).alias("m"))
    # Two-pass NN refinement (r13 probe: 9.2 s -> ~1.5 s at sf0.1).
    # At any realistic density almost every singleton's nearest
    # neighbor is within d <= 2, so pass 1 probes a 3x3 block grid of
    # CELL = 2 px (complete for d2 <= 4: the neighborhood covers
    # Chebyshev distance 2 even from a block edge) — candidate volume
    # is sites x small-block density, ~60x less than the 16-px scan.
    # Only singletons pass 1 cannot settle (no neighbor, or nearest
    # candidate past the completeness radius) rescan at CELL = 16.
    # Identical mind2 per site; censoring semantics unchanged.
    cells = pts.select(
        "*",
        F.expr("px div 16").alias("cx"),
        F.expr("py div 16").alias("cy"),
        F.expr("px div 2").alias("sx"),
        F.expr("py div 2").alias("sy"),
    ).localCheckpoint(eager=True)
    offs = (
        spark.range(-1, 2)
        .select(F.col("id").alias("dx"))
        .crossJoin(spark.range(-1, 2).select(F.col("id").alias("dy")))
    )
    singles = cells.where(F.col("m") == 1)
    d2 = (F.col("px") - F.col("bx")) * (F.col("px") - F.col("bx")) + (
        F.col("py") - F.col("by")
    ) * (F.col("py") - F.col("by"))

    probes1 = singles.crossJoin(F.broadcast(offs)).select(
        "px",
        "py",
        (F.col("sx") + F.col("dx")).alias("nsx"),
        (F.col("sy") + F.col("dy")).alias("nsy"),
    )
    bside1 = cells.select(
        F.col("px").alias("bx"),
        F.col("py").alias("by"),
        F.col("sx").alias("nsx"),
        F.col("sy").alias("nsy"),
    )
    nn1 = (
        probes1.join(bside1, ["nsx", "nsy"])
        .where(d2 > 0)
        .groupBy("px", "py")
        .agg(F.min(d2).alias("mind2"))
    )
    resolved = nn1.where(F.col("mind2") <= 4)

    unresolved = singles.join(resolved, ["px", "py"], "left_anti")
    probes2 = unresolved.crossJoin(F.broadcast(offs)).select(
        "px",
        "py",
        (F.col("cx") + F.col("dx")).alias("ncx"),
        (F.col("cy") + F.col("dy")).alias("ncy"),
    )
    bside2 = cells.select(
        F.col("px").alias("bx"),
        F.col("py").alias("by"),
        F.col("cx").alias("ncx"),
        F.col("cy").alias("ncy"),
    )
    nn2 = (
        probes2.join(bside2, ["ncx", "ncy"])
        .where(d2 > 0)
        .groupBy("px", "py")
        .agg(F.min(d2).alias("mind2"))
    )
    nn = resolved.unionByName(nn2).localCheckpoint(
        eager=True
    )  # read by contrib + censored
    # NOTE: no decimal*int products — Spark shrinks the scale of an
    # overflowing decimal multiply; co-located events contribute d=0
    # so only their COUNT matters
    singles = nn.where(F.col("mind2") <= 256).agg(
        F.sum(
            F.round(F.sqrt(F.col("mind2").cast("double")), 12).cast(
                "decimal(38,12)"
            )
        ).alias("sd"),
        F.count(F.lit(1)).alias("n1"),
    )
    dupes = pts.where(F.col("m") >= 2).agg(
        F.coalesce(F.sum("m"), F.lit(0)).alias("n2")
    )
    agg = singles.crossJoin(F.broadcast(dupes)).select(
        "sd", (F.col("n1") + F.col("n2")).alias("n")
    )
    cens = nn.where(F.col("mind2") > 256).agg(
        F.count(F.lit(1)).alias("n_cens")
    )
    n_d = F.col("n").cast("double")
    mean_nn = F.col("sd").cast("double") / n_d
    exp_nn = 0.5 * F.sqrt(65536.0 / n_d)
    return agg.crossJoin(F.broadcast(cens)).select(
        F.col("n").cast("bigint").alias("n_points"),
        F.col("n_cens").cast("bigint").alias("n_censored"),
        F.round(mean_nn, 9).alias("mean_nn"),
        F.round(exp_nn, 9).alias("expected_nn"),
        F.round(mean_nn / exp_nn, 9).alias("ce_ratio"),
        # z amplifies sub-round(9) decimal-vs-double ulps by ~n/170,
        # so it derives from the ALREADY-ROUNDED mean/expected — the
        # values the row itself reports
        F.round(
            (F.round(mean_nn, 9) - F.round(exp_nn, 9))
            / (0.26136 * F.sqrt(F.lit(65536.0)) / n_d),
            6,
        ).alias("z"),
    )


# ---------------------------------------------------------------------------
# Local Moran's I — LISA (Anselin, Geographical Analysis 1995): the
# per-cell decomposition of global Moran's I that turns "is it
# clustered?" into "WHERE is it clustered?": I_i = n u_i (sum_j w_ij
# u_j) / sum u^2 on the same 16x16 rook lattice and exact integer
# u = 256 x - S as the global statistic, plus the standard quadrant
# label (HH/LL/HL/LH from the signs of u_i and its neighborhood sum).
# Everything before the final division is BIGINT/DECIMAL-exact; the
# label is pure sign logic. Top-10 |I_i| cells keep the output small.
@_q(
    "local_morans_i",
    """
    WITH grid AS (
      SELECT CAST(g.i % 16 AS BIGINT) AS gx, CAST(g.i // 16 AS BIGINT) AS gy
      FROM range(256) g(i)
    ),
    counts AS (
      SELECT CAST(event_id % 16 AS BIGINT) AS gx,
             CAST((event_id // 16) % 16 AS BIGINT) AS gy,
             COUNT(*) AS c
      FROM events GROUP BY 1, 2
    ),
    cells AS (
      SELECT g.gx, g.gy, COALESCE(c.c, 0) AS x
      FROM grid g LEFT JOIN counts c ON c.gx = g.gx AND c.gy = g.gy
    ),
    tot AS (SELECT SUM(x) AS s FROM cells),
    u AS (SELECT gx, gy, 256 * x - tot.s AS u FROM cells, tot),
    lag AS (
      SELECT a.gx, a.gy, a.u,
             SUM(b.u) AS ulag, COUNT(*) AS n_neighbors
      FROM u a JOIN u b
        ON abs(a.gx - b.gx) + abs(a.gy - b.gy) = 1
      GROUP BY a.gx, a.gy, a.u
    ),
    su2 AS (SELECT SUM(CAST(u AS DECIMAL(38,0)) * u) AS su2 FROM u)
    SELECT gx, gy,
           round(256.0 * CAST(CAST(u AS DECIMAL(38,0)) * ulag AS DOUBLE)
                 / CAST(su2 AS DOUBLE), 9) AS local_i,
           CASE WHEN u >= 0 AND ulag >= 0 THEN 'HH'
                WHEN u < 0 AND ulag < 0 THEN 'LL'
                WHEN u >= 0 THEN 'HL' ELSE 'LH' END AS quadrant,
           CAST(n_neighbors AS BIGINT) AS n_neighbors
    FROM lag, su2
    ORDER BY abs(round(256.0 * CAST(CAST(u AS DECIMAL(38,0)) * ulag AS DOUBLE)
                 / CAST(su2 AS DOUBLE), 9)) DESC, gx, gy
    LIMIT 10
    """,
)
def q_local_morans_i(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events").select("event_id")
    counts = ev.groupBy(
        (F.col("event_id") % 16).cast("bigint").alias("gx"),
        (F.expr("event_id div 16") % 16).cast("bigint").alias("gy"),
    ).agg(F.count(F.lit(1)).alias("c"))
    grid = spark.range(256).select(
        (F.col("id") % 16).cast("bigint").alias("gx"),
        F.expr("id div 16").cast("bigint").alias("gy"),
    )
    cells = grid.join(counts, ["gx", "gy"], "left").select(
        "gx", "gy", F.coalesce(F.col("c"), F.lit(0)).alias("x")
    )
    tot = cells.agg(F.sum("x").alias("s"))
    u = (
        cells.crossJoin(F.broadcast(tot))
        .select("gx", "gy", (256 * F.col("x") - F.col("s")).alias("u"))
        .localCheckpoint(eager=True)
    )
    b = u.select(
        F.col("gx").alias("bx"), F.col("gy").alias("by"), F.col("u").alias("ub")
    )
    lag = (
        u.join(
            F.broadcast(b),
            (F.abs(F.col("gx") - F.col("bx")) + F.abs(F.col("gy") - F.col("by")))
            == 1,
        )
        .groupBy("gx", "gy", "u")
        .agg(F.sum("ub").alias("ulag"), F.count(F.lit(1)).alias("n_neighbors"))
    )
    su2 = u.agg(
        F.sum(F.col("u").cast("decimal(38,0)") * F.col("u")).alias("su2")
    )
    local_i = F.round(
        256.0
        * (F.col("u").cast("decimal(38,0)") * F.col("ulag")).cast("double")
        / F.col("su2").cast("double"),
        9,
    )
    quadrant = (
        F.when((F.col("u") >= 0) & (F.col("ulag") >= 0), "HH")
        .when((F.col("u") < 0) & (F.col("ulag") < 0), "LL")
        .when(F.col("u") >= 0, "HL")
        .otherwise("LH")
    )
    return (
        lag.crossJoin(F.broadcast(su2))
        .select(
            "gx",
            "gy",
            local_i.alias("local_i"),
            quadrant.alias("quadrant"),
            F.col("n_neighbors").cast("bigint").alias("n_neighbors"),
        )
        .orderBy(F.abs(F.col("local_i")).desc(), "gx", "gy")
        .limit(10)
    )


# ---------------------------------------------------------------------------
# Getis-Ord Gi* hot-spot statistic (Getis & Ord, Geographical
# Analysis 1992; the z-scored form of 1995) on the same 16x16 event
# lattice: for each cell, Gi* standardizes the rook+self neighborhood
# sum against its expectation under spatial randomness. All sums
# (neighborhood totals, S1, Q) are exact BIGINTs; n = 256 makes the
# mean an exact binary rational; the remaining float ops are the
# IDENTICAL expression tree in both engines, rounded to 9 before the
# tie-safe top-10 ordering. Completes the ESDA family: global Moran/
# Geary (is it clustered), LISA (where), Gi* (hot vs cold, z-scaled).
@_q(
    "getis_ord_hotspots",
    """
    WITH grid AS (
      SELECT CAST(g.i % 16 AS BIGINT) AS gx, CAST(g.i // 16 AS BIGINT) AS gy
      FROM range(256) g(i)
    ),
    counts AS (
      SELECT CAST(event_id % 16 AS BIGINT) AS gx,
             CAST((event_id // 16) % 16 AS BIGINT) AS gy,
             COUNT(*) AS c
      FROM events GROUP BY 1, 2
    ),
    cells AS (
      SELECT g.gx, g.gy, COALESCE(c.c, 0) AS x
      FROM grid g LEFT JOIN counts c ON c.gx = g.gx AND c.gy = g.gy
    ),
    tot AS (
      SELECT SUM(x) AS s1, SUM(CAST(x AS DECIMAL(38,0)) * x) AS q
      FROM cells
    ),
    nb AS (
      SELECT a.gx, a.gy,
             SUM(b.x) AS wx, COUNT(*) AS wi
      FROM cells a JOIN cells b
        ON abs(a.gx - b.gx) + abs(a.gy - b.gy) <= 1
      GROUP BY a.gx, a.gy
    ),
    z AS (
      SELECT gx, gy, wi,
             round(
               (CAST(wx AS DOUBLE) - (CAST(s1 AS DOUBLE) / 256.0) * wi)
               / (sqrt(CAST(q AS DOUBLE) / 256.0
                       - (CAST(s1 AS DOUBLE) / 256.0) * (CAST(s1 AS DOUBLE) / 256.0))
                  * sqrt((256.0 * wi - CAST(wi AS DOUBLE) * wi) / 255.0)),
               9) AS gi_star
      FROM nb, tot
    )
    SELECT gx, gy, gi_star,
           CASE WHEN gi_star >= 1.96 THEN 'hot'
                WHEN gi_star <= -1.96 THEN 'cold' ELSE 'ns' END AS label,
           CAST(wi AS BIGINT) AS n_neighbors
    FROM z
    ORDER BY abs(gi_star) DESC, gx, gy
    LIMIT 10
    """,
)
def q_getis_ord_hotspots(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events").select("event_id")
    counts = ev.groupBy(
        (F.col("event_id") % 16).cast("bigint").alias("gx"),
        (F.expr("event_id div 16") % 16).cast("bigint").alias("gy"),
    ).agg(F.count(F.lit(1)).alias("c"))
    grid = spark.range(256).select(
        (F.col("id") % 16).cast("bigint").alias("gx"),
        F.expr("id div 16").cast("bigint").alias("gy"),
    )
    cells = grid.join(counts, ["gx", "gy"], "left").select(
        "gx", "gy", F.coalesce(F.col("c"), F.lit(0)).alias("x")
    ).localCheckpoint(eager=True)
    tot = cells.agg(
        F.sum("x").alias("s1"),
        F.sum(F.col("x").cast("decimal(38,0)") * F.col("x")).alias("q"),
    )
    b = cells.select(
        F.col("gx").alias("bx"), F.col("gy").alias("by"), F.col("x").alias("xb")
    )
    nb = (
        cells.join(
            F.broadcast(b),
            (F.abs(F.col("gx") - F.col("bx")) + F.abs(F.col("gy") - F.col("by")))
            <= 1,
        )
        .groupBy("gx", "gy")
        .agg(F.sum("xb").alias("wx"), F.count(F.lit(1)).alias("wi"))
    )
    s1d = F.col("s1").cast("double") / 256.0
    wi_d = F.col("wi").cast("double")
    gi = F.round(
        (F.col("wx").cast("double") - s1d * F.col("wi"))
        / (
            F.sqrt(F.col("q").cast("double") / 256.0 - s1d * s1d)
            * F.sqrt((256.0 * F.col("wi") - wi_d * F.col("wi")) / 255.0)
        ),
        9,
    )
    out = nb.crossJoin(F.broadcast(tot)).select(
        "gx",
        "gy",
        gi.alias("gi_star"),
        F.when(gi >= 1.96, "hot")
        .when(gi <= -1.96, "cold")
        .otherwise("ns")
        .alias("label"),
        F.col("wi").cast("bigint").alias("n_neighbors"),
    )
    return out.orderBy(F.abs(F.col("gi_star")).desc(), "gx", "gy").limit(10)


# ---------------------------------------------------------------------------
# Knox space-time interaction test (Knox, Applied Statistics 1964 —
# the epidemiology screen for "do events cluster in space AND time
# together?"): X = #{unordered pairs close in BOTH space (d^2 <= 64)
# and time (|dt| <= 1 h)}, compared to the independence expectation
# E = Ns * Nt / C(n,2). All three tallies are exact integer pair
# counts; each uses the banding discipline — space pairs via the 3x3
# block join on 8-px cells, time pairs via adjacent 1 h buckets — so
# NOTHING is all-pairs at any SF. One double division for E and the
# ratio. Timestamps follow the repo's epoch_ms convention.
@_q(
    "knox_space_time",
    """
    WITH ev AS (
      SELECT event_id,
             ((event_id * 48271) % 2147483647) % 256 AS px,
             (((event_id * 48271) % 2147483647) // 256) % 256 AS py,
             CAST(epoch_ms(ts) AS BIGINT) AS tms
      FROM events
    ),
    n_tot AS (SELECT COUNT(*) AS n FROM ev),
    scells AS (
      SELECT event_id, px, py, tms, px // 8 AS cx, py // 8 AS cy FROM ev
    ),
    sprobe AS (
      SELECT s.event_id, s.px, s.py, s.tms,
             s.cx + dx.d AS ncx, s.cy + dy.d AS ncy
      FROM scells s,
           (SELECT unnest(generate_series(-1, 1)) AS d) dx,
           (SELECT unnest(generate_series(-1, 1)) AS d) dy
    ),
    spairs AS (
      SELECT a.event_id AS ia, b.event_id AS ib,
             a.tms AS ta, b.tms AS tb
      FROM sprobe a JOIN scells b ON b.cx = a.ncx AND b.cy = a.ncy
      WHERE a.event_id < b.event_id
        AND (a.px - b.px) * (a.px - b.px)
            + (a.py - b.py) * (a.py - b.py) <= 64
    ),
    ns AS (SELECT COUNT(*) AS ns FROM spairs),
    x AS (
      SELECT COUNT(*) AS x FROM spairs
      WHERE abs(ta - tb) <= 3600000
    ),
    tb_ AS (
      SELECT event_id, tms, tms // 3600000 AS bkt FROM ev
    ),
    tprobe AS (
      SELECT t.event_id, t.tms, t.bkt + d.d AS nbkt
      FROM tb_ t, (SELECT unnest(generate_series(-1, 1)) AS d) d
    ),
    nt AS (
      SELECT COUNT(*) AS nt
      FROM tprobe a JOIN tb_ b ON b.bkt = a.nbkt
      WHERE a.event_id < b.event_id AND abs(a.tms - b.tms) <= 3600000
    )
    SELECT CAST(x.x AS BIGINT) AS x_close_both,
           CAST(ns.ns AS BIGINT) AS n_space_close,
           CAST(nt.nt AS BIGINT) AS n_time_close,
           round(CAST(ns.ns AS DOUBLE) * nt.nt
                 / (CAST(n.n AS DOUBLE) * (n.n - 1) / 2.0), 6) AS expected,
           round(CAST(x.x AS DOUBLE)
                 / (CAST(ns.ns AS DOUBLE) * nt.nt
                    / (CAST(n.n AS DOUBLE) * (n.n - 1) / 2.0)), 6)
             AS knox_ratio
    FROM x, ns, nt, n_tot n
    """,
)
def q_knox_space_time(spark: SparkSession, sf_dir: str) -> DataFrame:
    # r13 re-plan (probe: 9.7 s -> ~1 s at sf0.1, same outputs):
    # - n_space_close comes from SITE MULTIPLICITIES, never event
    #   pairs: ordered distinct-event pairs within r = sum_a m_a *
    #   (sum of m_b over sites within d2<=64 of a, incl. a itself)
    #   - n, halved. The 3x3 block join runs on <= domain-bounded
    #   distinct sites; per-a neighbor sums are BIGINT map-side.
    # - x_close_both blocks on (space cell, time bucket) JOINTLY (27
    #   probes): candidates are events x local space-time density, not
    #   events x space-cell density — the quadratic-in-density pair
    #   enumeration the r12 plan had (and its 90M-row localCheckpoint)
    #   is gone.
    # - n_time_close keeps the +-1-bucket join: it enumerates only
    #   near-qualifying pairs, Theta(answer), which is optimal for an
    #   exact pair count.
    evt = t(spark, sf_dir, "events").select("event_id", "ts")
    tms = F.floor(F.unix_micros(F.col("ts").cast("timestamp")) / 1000).cast(
        "bigint"
    )
    h = (F.col("event_id") * 48271) % 2147483647
    ev = evt.select(
        "event_id",
        (h % 256).alias("px"),
        (F.expr("((event_id * 48271) % 2147483647) div 256") % 256).alias("py"),
        tms.alias("tms"),
    ).localCheckpoint(eager=True)  # feeds sites, x AND time builds
    n_tot = ev.agg(F.count(F.lit(1)).alias("n"))

    # --- n_space_close from site multiplicities ---
    sites = (
        ev.groupBy("px", "py")
        .agg(F.count(F.lit(1)).alias("m"))
        .select(
            "px",
            "py",
            "m",
            F.expr("px div 8").alias("cx"),
            F.expr("py div 8").alias("cy"),
        )
        .localCheckpoint(eager=True)  # probe + build sides
    )
    offs = (
        spark.range(-1, 2)
        .select(F.col("id").alias("dx"))
        .crossJoin(spark.range(-1, 2).select(F.col("id").alias("dy")))
    )
    sprobe = sites.crossJoin(F.broadcast(offs)).select(
        "px",
        "py",
        "m",
        (F.col("cx") + F.col("dx")).alias("ncx"),
        (F.col("cy") + F.col("dy")).alias("ncy"),
    )
    sbuild = sites.select(
        F.col("px").alias("bx"),
        F.col("py").alias("by"),
        F.col("m").alias("mb"),
        F.col("cx").alias("ncx"),
        F.col("cy").alias("ncy"),
    )
    sd2 = (F.col("px") - F.col("bx")) * (F.col("px") - F.col("bx")) + (
        F.col("py") - F.col("by")
    ) * (F.col("py") - F.col("by"))
    nbsum = (
        sprobe.join(sbuild, ["ncx", "ncy"])
        .where(sd2 <= 64)
        .groupBy("px", "py", "m")
        .agg(F.sum("mb").alias("nm"))
    )
    # ordered distinct-event pairs = sum m*nm - n (self-events); /2 ->
    # unordered. m*nm fits BIGINT to ~3e13 events; the cross-site SUM
    # accumulates as DECIMAL(38,0).
    ns = nbsum.agg(
        F.sum((F.col("m").cast("decimal(38,0)") * F.col("nm"))).alias("s")
    ).crossJoin(F.broadcast(n_tot)).select(
        ((F.col("s") - F.col("n")) / 2).cast("bigint").alias("ns")
    )

    # --- x_close_both: (space cell, time bucket) blocked event join ---
    evc = ev.select(
        "event_id",
        "px",
        "py",
        "tms",
        F.expr("px div 8").alias("cx"),
        F.expr("py div 8").alias("cy"),
        F.expr("tms div 3600000").alias("bkt"),
    )
    toffs = spark.range(-1, 2).select(F.col("id").alias("dt"))
    xprobe = (
        evc.crossJoin(F.broadcast(offs))
        .crossJoin(F.broadcast(toffs))
        .select(
            F.col("event_id").alias("ia"),
            F.col("px").alias("pxa"),
            F.col("py").alias("pya"),
            F.col("tms").alias("ta"),
            (F.col("cx") + F.col("dx")).alias("ncx"),
            (F.col("cy") + F.col("dy")).alias("ncy"),
            (F.col("bkt") + F.col("dt")).alias("nbkt"),
        )
    )
    xbuild = evc.select(
        F.col("event_id").alias("ib"),
        F.col("px").alias("pxb"),
        F.col("py").alias("pyb"),
        F.col("tms").alias("tb"),
        F.col("cx").alias("ncx"),
        F.col("cy").alias("ncy"),
        F.col("bkt").alias("nbkt"),
    )
    xd2 = (F.col("pxa") - F.col("pxb")) * (F.col("pxa") - F.col("pxb")) + (
        F.col("pya") - F.col("pyb")
    ) * (F.col("pya") - F.col("pyb"))
    x = (
        xprobe.repartition(  # AQE would single-task this join
            spark.sparkContext.defaultParallelism, "ncx", "ncy", "nbkt"
        )
        .join(xbuild, ["ncx", "ncy", "nbkt"])
        .where(
            (F.col("ia") < F.col("ib"))
            & (xd2 <= 64)
            & (F.abs(F.col("ta") - F.col("tb")) <= 3600000)
        )
        .agg(F.count(F.lit(1)).alias("x"))
    )

    # --- n_time_close: +-1-bucket blocked event join ---
    tbk = ev.select(
        "event_id", "tms", F.expr("tms div 3600000").alias("bkt")
    )
    tprobe = tbk.crossJoin(F.broadcast(toffs)).select(
        F.col("event_id").alias("ia"),
        F.col("tms").alias("ta"),
        (F.col("bkt") + F.col("dt")).alias("nbkt"),
    )
    tside = tbk.select(
        F.col("event_id").alias("ib"),
        F.col("tms").alias("tb"),
        F.col("bkt").alias("nbkt"),
    )
    nt = (
        tprobe.repartition(  # AQE would single-task this join
            spark.sparkContext.defaultParallelism, "nbkt"
        )
        .join(tside, "nbkt")
        .where(
            (F.col("ia") < F.col("ib"))
            & (F.abs(F.col("ta") - F.col("tb")) <= 3600000)
        )
        .agg(F.count(F.lit(1)).alias("nt"))
    )
    nd = F.col("n").cast("double")
    expected = F.col("ns").cast("double") * F.col("nt") / (nd * (F.col("n") - 1) / 2.0)
    return (
        x.crossJoin(F.broadcast(ns))
        .crossJoin(F.broadcast(nt))
        .crossJoin(F.broadcast(n_tot))
        .select(
            F.col("x").cast("bigint").alias("x_close_both"),
            F.col("ns").cast("bigint").alias("n_space_close"),
            F.col("nt").cast("bigint").alias("n_time_close"),
            F.round(expected, 6).alias("expected"),
            F.round(F.col("x").cast("double") / expected, 6).alias(
                "knox_ratio"
            ),
        )
    )


# ---------------------------------------------------------------------------
# Bivariate (cross-type) Ripley K12 — the MARKED point-pattern
# statistic (Lotwick & Silverman JRSS-B 1982): do clicks cluster
# AROUND purchases, beyond what each pattern does alone? K12(r) =
# A/(n1 n2) * #{(click i, purchase j) pairs with d <= r}. Same
# Lehmer-hashed locations and 3x3 16-px block machinery as ripleys_k,
# but the pair tally joins the two TYPE-split location tables — counts
# stay exact BIGINTs (no self-pair correction needed across types).
@_q(
    "cross_k_function",
    """
    WITH ev AS (
      SELECT event_id, event_type,
             ((event_id * 48271) % 2147483647) % 256 AS px,
             (((event_id * 48271) % 2147483647) // 256) % 256 AS py
      FROM events WHERE event_type IN ('click', 'purchase')
    ),
    clicks AS (
      SELECT px, py, COUNT(*) AS m, px // 16 AS cx, py // 16 AS cy
      FROM ev WHERE event_type = 'click' GROUP BY px, py
    ),
    purch AS (
      SELECT px, py, COUNT(*) AS m, px // 16 AS cx, py // 16 AS cy
      FROM ev WHERE event_type = 'purchase' GROUP BY px, py
    ),
    n1 AS (SELECT SUM(m) AS n FROM clicks),
    n2 AS (SELECT SUM(m) AS n FROM purch),
    probes AS (
      SELECT c.px, c.py, c.m, c.cx + dx.d AS ncx, c.cy + dy.d AS ncy
      FROM clicks c,
           (SELECT unnest(generate_series(-1, 1)) AS d) dx,
           (SELECT unnest(generate_series(-1, 1)) AS d) dy
    ),
    cand AS (
      SELECT CAST(a.m AS DECIMAL(38,0)) * b.m AS mm,
             (a.px - b.px) * (a.px - b.px)
             + (a.py - b.py) * (a.py - b.py) AS d2
      FROM probes a JOIN purch b ON b.cx = a.ncx AND b.cy = a.ncy
    ),
    tallies AS (
      SELECT CAST(SUM(CASE WHEN d2 <= 16 THEN mm ELSE 0 END)
                  AS DECIMAL(38,0)) AS s4,
             CAST(SUM(CASE WHEN d2 <= 64 THEN mm ELSE 0 END)
                  AS DECIMAL(38,0)) AS s8,
             CAST(SUM(CASE WHEN d2 <= 256 THEN mm ELSE 0 END)
                  AS DECIMAL(38,0)) AS s16
      FROM cand
    ),
    radii AS (SELECT * FROM (VALUES (4, 0), (8, 1), (16, 2)) v(r, k))
    SELECT CAST(r.r AS BIGINT) AS r,
           CAST(CASE r.k WHEN 0 THEN t.s4 WHEN 1 THEN t.s8 ELSE t.s16 END
                AS BIGINT) AS n_cross_pairs,
           round(65536.0
                 * CAST(CASE r.k WHEN 0 THEN t.s4 WHEN 1 THEN t.s8
                        ELSE t.s16 END AS DOUBLE)
                 / (CAST(a.n AS DOUBLE) * b.n), 9) AS k12_r
    FROM radii r, tallies t, n1 a, n2 b
    ORDER BY r
    """,
)
def q_cross_k_function(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = (
        t(spark, sf_dir, "events")
        .where(F.col("event_type").isin("click", "purchase"))
        .select(
            "event_type",
            ((F.col("event_id") * 48271) % 2147483647 % 256).alias("px"),
            (
                F.expr("((event_id * 48271) % 2147483647) div 256") % 256
            ).alias("py"),
        )
    )

    def side(kind: str) -> DataFrame:
        return (
            ev.where(F.col("event_type") == kind)
            .groupBy("px", "py")
            .agg(F.count(F.lit(1)).alias("m"))
            .select(
                "px",
                "py",
                "m",
                F.expr("px div 16").alias("ncx"),
                F.expr("py div 16").alias("ncy"),
            )
        )

    clicks = side("click").localCheckpoint(eager=True)
    purch = side("purchase").localCheckpoint(eager=True)
    n1 = clicks.agg(F.sum("m").alias("n1"))
    n2 = purch.agg(F.sum("m").alias("n2"))
    offs = (
        spark.range(-1, 2)
        .select(F.col("id").alias("dx"))
        .crossJoin(spark.range(-1, 2).select(F.col("id").alias("dy")))
    )
    probes = clicks.crossJoin(F.broadcast(offs)).select(
        F.col("px").alias("pxa"),
        F.col("py").alias("pya"),
        F.col("m").alias("ma"),
        (F.col("ncx") + F.col("dx")).alias("ncx"),
        (F.col("ncy") + F.col("dy")).alias("ncy"),
    )
    bside = purch.select(
        F.col("px").alias("pxb"),
        F.col("py").alias("pyb"),
        F.col("m").alias("mb"),
        "ncx",
        "ncy",
    )
    d2 = (F.col("pxa") - F.col("pxb")) * (F.col("pxa") - F.col("pxb")) + (
        F.col("pya") - F.col("pyb")
    ) * (F.col("pya") - F.col("pyb"))
    # two-level exact aggregation (same refactor as ripleys_k, r13):
    # BIGINT neighbor-multiplicity sums per click-site map-side, then
    # DECIMAL products on the <= |sites| rows that survive
    nb = (
        probes.repartition(  # AQE would single-task this join (see ripleys_k)
            spark.sparkContext.defaultParallelism, "ncx", "ncy"
        )
        .join(bside, ["ncx", "ncy"])
        .groupBy("pxa", "pya", "ma")
        .agg(
            *[
                F.sum(
                    F.when(d2 <= r * r, F.col("mb")).otherwise(F.lit(0))
                ).alias(f"nm{r}")
                for r in (4, 8, 16)
            ]
        )
    )
    tall = nb.agg(
        *[
            F.sum(F.col("ma").cast("decimal(38,0)") * F.col(f"nm{r}"))
            .cast("decimal(38,0)")
            .alias(f"s{r}")
            for r in (4, 8, 16)
        ]
    )
    base = tall.crossJoin(F.broadcast(n1)).crossJoin(F.broadcast(n2))
    arms = None
    for r in (4, 8, 16):
        k12 = (
            65536.0
            * F.col(f"s{r}").cast("double")
            / (F.col("n1").cast("double") * F.col("n2"))
        )
        arm = base.select(
            F.lit(r).cast("bigint").alias("r"),
            F.col(f"s{r}").cast("bigint").alias("n_cross_pairs"),
            F.round(k12, 9).alias("k12_r"),
        )
        arms = arm if arms is None else arms.unionByName(arm)
    return arms.orderBy("r")


# ---------------------------------------------------------------------------
# Quadrat count test (Fisher's CSR screen; Greig-Smith 1952 quadrat
# analysis): chi2 = sum (c_i - n/256)^2 / (n/256) over the 16x16
# lattice, plus the variance-mean ratio (VMR; 1 under Poisson, > 1
# clustered, < 1 regular). n/256 is an exact binary rational, counts
# are integers, so every term is an exact double and the sum uses the
# repo's round(12)->DECIMAL(38,12) accumulation discipline.
@_q(
    "quadrat_count_test",
    """
    WITH grid AS (
      SELECT CAST(g.i % 16 AS BIGINT) AS gx, CAST(g.i // 16 AS BIGINT) AS gy
      FROM range(256) g(i)
    ),
    counts AS (
      SELECT CAST(event_id % 16 AS BIGINT) AS gx,
             CAST((event_id // 16) % 16 AS BIGINT) AS gy,
             COUNT(*) AS c
      FROM events GROUP BY 1, 2
    ),
    cells AS (
      SELECT g.gx, g.gy, COALESCE(c.c, 0) AS x
      FROM grid g LEFT JOIN counts c ON c.gx = g.gx AND c.gy = g.gy
    ),
    tot AS (SELECT SUM(x) AS n FROM cells),
    chi AS (
      SELECT round(CAST(SUM(CAST(round(
               (x - CAST(n AS DOUBLE) / 256.0)
               * (x - CAST(n AS DOUBLE) / 256.0)
               / (CAST(n AS DOUBLE) / 256.0), 12) AS DECIMAL(38,12)))
             AS DOUBLE), 9) AS chi2,
             MAX(n) AS n
      FROM cells, tot
    )
    SELECT CAST(n AS BIGINT) AS n_events,
           CAST(255 AS BIGINT) AS dof,
           chi2,
           round(chi2 / 255.0, 9) AS vmr
    FROM chi
    """,
)
def q_quadrat_count_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events").select("event_id")
    counts = ev.groupBy(
        (F.col("event_id") % 16).cast("bigint").alias("gx"),
        (F.expr("event_id div 16") % 16).cast("bigint").alias("gy"),
    ).agg(F.count(F.lit(1)).alias("c"))
    grid = spark.range(256).select(
        (F.col("id") % 16).cast("bigint").alias("gx"),
        F.expr("id div 16").cast("bigint").alias("gy"),
    )
    cells = grid.join(counts, ["gx", "gy"], "left").select(
        F.coalesce(F.col("c"), F.lit(0)).alias("x")
    )
    tot = cells.agg(F.sum("x").alias("n"))
    mu = F.col("n").cast("double") / 256.0
    term = F.round((F.col("x") - mu) * (F.col("x") - mu) / mu, 12).cast(
        "decimal(38,12)"
    )
    chi = (
        cells.crossJoin(F.broadcast(tot))
        .agg(
            F.round(F.sum(term).cast("double"), 9).alias("chi2"),
            F.max("n").alias("n"),
        )
    )
    return chi.select(
        F.col("n").cast("bigint").alias("n_events"),
        F.lit(255).cast("bigint").alias("dof"),
        "chi2",
        F.round(F.col("chi2") / 255.0, 9).alias("vmr"),
    )


# ---------------------------------------------------------------------------
# Concave x concave polygon overlay (r13). The r12 tier clipped
# arbitrary subjects against CONVEX zones only (Sutherland-Hodgman's
# contract); reference segments are arbitrary concave polygons
# (`2_segmentation/image_segmentation.py:160-162`, consumed by
# `3_object_classification/object_classifier.py:158-160`), so the
# general overlay needs concave on BOTH sides. Engine: ear-clip the
# clip polygon into triangles (Meisters 1975), S-H the subject against
# each, sum signed areas (`functions/geometry.py`). Fixtures are
# L-shaped (one reflex vertex each) on the integer lattice, so the
# true intersection is an exact integer and the DuckDB twin is the
# closed-form sum over the 2x2 slab-rectangle decomposition — a
# DIFFERENT algorithm, so a correlated bug cannot hide. Spark-side
# areas round to the nearest integer before the IoU division (exact on
# this lattice; the kernel itself is general-float), making the
# division operands bit-identical in both engines. At 100 TB: zones
# broadcast; candidate generation is the outer-bbox join (upgrade path:
# grid-blocked candidates as in spatial_bbox_join_blocked); the kernel
# is Arrow-batched with per-batch parse+triangulation memoization.
_SQL_LRECTS = """
    SELECT p_partkey AS rect_id,
           CAST(p_partkey % 32 AS BIGINT) AS x0,
           CAST(p_partkey % 24 AS BIGINT) AS y0,
           CAST(p_partkey % 32 + p_size + 2 AS BIGINT) AS x1,
           CAST(p_partkey % 24 + p_partkey % 19 + 3 AS BIGINT) AS y1,
           CAST(p_partkey % 32 + p_size // 2 + 1 AS BIGINT) AS xm,
           CAST(p_partkey % 24 + (p_partkey % 19) // 2 + 1 AS BIGINT) AS ym
    FROM part
"""

_SQL_LZONES = """
    SELECT z AS zone_id,
           CAST((z % 4) * 20 AS BIGINT) AS zx0,
           CAST((z // 4) * 14 AS BIGINT) AS zy0,
           CAST((z % 4) * 20 + 26 AS BIGINT) AS zx1,
           CAST((z // 4) * 14 + 26 AS BIGINT) AS zy1,
           CAST((z % 4) * 20 + 9 + (z % 5) * 3 AS BIGINT) AS zxm,
           CAST((z // 4) * 14 + 8 + (z % 7) * 2 AS BIGINT) AS zym
    FROM range(12) t(z)
"""


def _l_wkt(x0, y0, x1, y1, xm, ym):
    """CCW L-shape WKT with the notch at the top-right corner:
    (x0,y0)->(x1,y0)->(x1,ym)->(xm,ym)->(xm,y1)->(x0,y1)->close."""
    s = lambda c: c.cast("bigint").cast("string")  # noqa: E731
    return F.concat(
        F.lit("POLYGON(("),
        s(x0), F.lit(" "), s(y0), F.lit(", "),
        s(x1), F.lit(" "), s(y0), F.lit(", "),
        s(x1), F.lit(" "), s(ym), F.lit(", "),
        s(xm), F.lit(" "), s(ym), F.lit(", "),
        s(xm), F.lit(" "), s(y1), F.lit(", "),
        s(x0), F.lit(" "), s(y1), F.lit(", "),
        s(x0), F.lit(" "), s(y0),
        F.lit("))"),
    )


def _lrects(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = t(spark, sf_dir, "part")
    x0 = F.col("p_partkey") % 32
    y0 = F.col("p_partkey") % 24
    x1 = x0 + F.col("p_size") + 2
    y1 = y0 + F.col("p_partkey") % 19 + 3
    xm = x0 + F.expr("p_size div 2") + 1
    ym = y0 + F.expr("(p_partkey % 19) div 2") + 1
    return part.select(
        F.col("p_partkey").alias("rect_id"),
        x0.cast("bigint").alias("x0"),
        y0.cast("bigint").alias("y0"),
        x1.cast("bigint").alias("x1"),
        y1.cast("bigint").alias("y1"),
        xm.cast("bigint").alias("xm"),
        ym.cast("bigint").alias("ym"),
        _l_wkt(x0, y0, x1, y1, xm, ym).alias("geometry"),
    )


def _lzones(spark: SparkSession) -> DataFrame:
    z = F.col("id")
    zx0 = (z % 4) * 20
    zy0 = F.expr("id div 4") * 14
    zx1 = zx0 + 26
    zy1 = zy0 + 26
    zxm = zx0 + 9 + (z % 5) * 3
    zym = zy0 + 8 + (z % 7) * 2
    return spark.range(12).select(
        z.alias("zone_id"),
        zx0.cast("bigint").alias("zx0"),
        zy0.cast("bigint").alias("zy0"),
        zx1.cast("bigint").alias("zx1"),
        zy1.cast("bigint").alias("zy1"),
        zxm.cast("bigint").alias("zxm"),
        zym.cast("bigint").alias("zym"),
        _l_wkt(zx0, zy0, zx1, zy1, zxm, zym).alias("zone_geom"),
    )


# closed-form overlap of two axis-aligned rects, SQL text
def _sql_rect_ov(ax0, ay0, ax1, ay1, bx0, by0, bx1, by1):
    return (
        f"GREATEST(0, LEAST({ax1}, {bx1}) - GREATEST({ax0}, {bx0}))"
        f" * GREATEST(0, LEAST({ay1}, {by1}) - GREATEST({ay0}, {by0}))"
    )


@_q(
    "polygon_overlay_concave",
    f"""
    WITH lrects AS ({_SQL_LRECTS}),
    lzones AS ({_SQL_LZONES}),
    pairs AS (
      SELECT r.rect_id, z.zone_id,
             -- L = bottom slab (x0,y0,x1,ym) + top slab (x0,ym,xm,y1);
             -- slabs are interior-disjoint, so the L x L intersection
             -- is the plain 2x2 sum of rect-rect overlaps
             {_sql_rect_ov('r.x0','r.y0','r.x1','r.ym','z.zx0','z.zy0','z.zx1','z.zym')}
           + {_sql_rect_ov('r.x0','r.y0','r.x1','r.ym','z.zx0','z.zym','z.zxm','z.zy1')}
           + {_sql_rect_ov('r.x0','r.ym','r.xm','r.y1','z.zx0','z.zy0','z.zx1','z.zym')}
           + {_sql_rect_ov('r.x0','r.ym','r.xm','r.y1','z.zx0','z.zym','z.zxm','z.zy1')}
               AS inter,
             (r.x1 - r.x0) * (r.ym - r.y0) + (r.xm - r.x0) * (r.y1 - r.ym)
               AS area_r,
             (z.zx1 - z.zx0) * (z.zym - z.zy0)
               + (z.zxm - z.zx0) * (z.zy1 - z.zym) AS area_z
      FROM lrects r JOIN lzones z
        ON r.x0 < z.zx1 AND r.x1 > z.zx0 AND r.y0 < z.zy1 AND r.y1 > z.zy0
    )
    SELECT rect_id, zone_id,
           CAST(inter AS DOUBLE) AS inter_area,
           CAST(area_r + area_z - inter AS DOUBLE) AS union_area,
           round(CAST(inter AS DOUBLE) / (area_r + area_z - inter), 9) AS iou
    FROM pairs
    ORDER BY rect_id, zone_id
    """,
)
def q_polygon_overlay_concave(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.geometry import polygon_overlay_general_cols

    rects = _lrects(spark, sf_dir)
    zones = _lzones(spark)
    cand = rects.join(
        F.broadcast(zones),
        (F.col("x0") < F.col("zx1"))
        & (F.col("x1") > F.col("zx0"))
        & (F.col("y0") < F.col("zy1"))
        & (F.col("y1") > F.col("zy0")),
    )
    # single-split source -> spread the per-pair kernel work (see the
    # identical note in q_polygon_overlay_iou; r13 probe 43.7 s -> s)
    # lazy barrier under the global sort — orderBy's range-partitioner
    # sampling pass would run this Arrow kernel a second time (stage
    # census: two identical ~53 exec-sec kernel stages); checkpointing
    # the 103k kernel-output rows halves the kernel work, same rows
    ov = cand.repartition(
        spark.sparkContext.defaultParallelism, "rect_id"
    ).select(
        "rect_id",
        "zone_id",
        polygon_overlay_general_cols(
            F.col("geometry"), F.col("zone_geom")
        ).alias("ov"),
    ).localCheckpoint(eager=False)
    # areas are exact integers on this lattice: snap the float kernel
    # output to the integer before the IoU division so both engines
    # divide bit-identical operands
    inter = F.round(F.col("ov.inter_area"), 0)
    union = (
        F.round(F.col("ov.area_a"), 0) + F.round(F.col("ov.area_b"), 0) - inter
    )
    return ov.select(
        "rect_id",
        "zone_id",
        inter.alias("inter_area"),
        union.alias("union_area"),
        F.round(inter / union, 9).alias("iou"),
    ).orderBy("rect_id", "zone_id")


# ---------------------------------------------------------------------------
# Cascaded union (n-way ST_Union area) over concave polygons: the
# general engine decomposes each simple RECTILINEAR polygon into
# interior-disjoint slab rectangles (pandas-UDF kernel, any number of
# notches), explodes, and reuses rect_union_area's distributed
# gaps-and-islands scanline — per (layer, x-column) y-interval merge,
# exact integer arithmetic end to end. The DuckDB twin decomposes the
# L fixtures algebraically (2 slabs each) and runs the same scanline,
# so the kernel's decomposition is what's under test. At 100 TB: work
# is |polys| x avg-width rows, shuffle key (layer, column) is the
# natural spatial partitioner — same scaling story as rect_union_area.
@_q(
    "polygon_union_cascaded",
    f"""
    WITH lrects AS ({_SQL_LRECTS}),
    slabs AS (
      SELECT rect_id, CAST(rect_id % 8 AS BIGINT) AS layer,
             x0, y0, x1, ym AS y1 FROM lrects
      UNION ALL
      SELECT rect_id, CAST(rect_id % 8 AS BIGINT) AS layer,
             x0, ym AS y0, xm AS x1, y1 FROM lrects
    ),
    cols AS (
      -- DISTINCT: duplicate (y0,y1) intervals are union no-ops, and
      -- they make the two island windows' tie order observable (the
      -- flag row can sort after its duplicate in the second window's
      -- sort, splitting an island — seen flapping in DuckDB at sf0.1)
      SELECT DISTINCT layer, CAST(t.cx AS INTEGER) AS cx, y0, y1
      FROM slabs JOIN range(0, 200) t(cx)
        ON t.cx >= x0 AND t.cx < x1
    ),
    flagged AS (
      SELECT layer, cx, y0, y1,
             CASE WHEN y0 > COALESCE(MAX(y1) OVER (
                    PARTITION BY layer, cx ORDER BY y0, y1
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                  -2147483648)
                  THEN 1 ELSE 0 END AS new_island
      FROM cols
    ),
    islands AS (
      SELECT layer, cx, y0, y1,
             SUM(new_island) OVER (
               PARTITION BY layer, cx ORDER BY y0, y1
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS isl
      FROM flagged
    ),
    isl_len AS (
      SELECT layer, cx, isl, MAX(y1) - MIN(y0) AS ylen
      FROM islands GROUP BY layer, cx, isl
    ),
    naive AS (
      SELECT CAST(rect_id % 8 AS BIGINT) AS layer,
             COUNT(*) AS n_polys,
             CAST(SUM((x1 - x0) * (ym - y0) + (xm - x0) * (y1 - ym))
                  AS BIGINT) AS sum_poly_area
      FROM lrects GROUP BY 1
    )
    SELECT n.layer, n.n_polys, n.sum_poly_area,
           CAST(u.union_area AS BIGINT) AS union_area,
           round(CAST(u.union_area AS DOUBLE) / n.sum_poly_area, 9)
             AS coverage_ratio
    FROM naive n JOIN (
      SELECT layer, SUM(ylen) AS union_area FROM isl_len GROUP BY layer
    ) u ON u.layer = n.layer
    ORDER BY n.layer
    """,
)
def q_polygon_union_cascaded(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.geometry import rectilinear_decompose_col

    lrects = _lrects(spark, sf_dir)
    slabs = lrects.select(
        "rect_id",
        (F.col("rect_id") % 8).cast("bigint").alias("layer"),
        F.explode(rectilinear_decompose_col(F.col("geometry"))).alias("r"),
    ).select(
        "layer",
        F.element_at("r", 1).cast("int").alias("x0"),
        F.element_at("r", 2).cast("int").alias("y0"),
        F.element_at("r", 3).cast("int").alias("x1"),
        F.element_at("r", 4).cast("int").alias("y1"),
    )
    # distinct: duplicate intervals are union no-ops and expose the
    # two-window tie-order hazard (see the oracle comment)
    cols = slabs.select(
        "layer",
        F.explode(F.sequence(F.col("x0"), F.col("x1") - 1)).alias("cx"),
        "y0",
        "y1",
    ).distinct()
    w_ord = Window.partitionBy("layer", "cx").orderBy("y0", "y1")
    w_prev = w_ord.rowsBetween(Window.unboundedPreceding, -1)
    w_run = w_ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    flagged = cols.select(
        "layer",
        "cx",
        "y0",
        "y1",
        F.when(
            F.col("y0")
            > F.coalesce(F.max("y1").over(w_prev), F.lit(-2147483648)),
            1,
        )
        .otherwise(0)
        .alias("new_island"),
    )
    islands = flagged.select(
        "layer", "cx", "y0", "y1", F.sum("new_island").over(w_run).alias("isl")
    )
    isl_len = islands.groupBy("layer", "cx", "isl").agg(
        (F.max("y1") - F.min("y0")).alias("ylen")
    )
    union_area = isl_len.groupBy("layer").agg(
        F.sum("ylen").alias("union_area")
    )
    naive = lrects.groupBy(
        (F.col("rect_id") % 8).cast("bigint").alias("layer")
    ).agg(
        F.count(F.lit(1)).alias("n_polys"),
        F.sum(
            (F.col("x1") - F.col("x0")) * (F.col("ym") - F.col("y0"))
            + (F.col("xm") - F.col("x0")) * (F.col("y1") - F.col("ym"))
        )
        .cast("bigint")
        .alias("sum_poly_area"),
    )
    return (
        naive.join(union_area, "layer")
        .select(
            "layer",
            "n_polys",
            "sum_poly_area",
            F.col("union_area").cast("bigint").alias("union_area"),
            F.round(
                F.col("union_area").cast("double") / F.col("sum_poly_area"), 9
            ).alias("coverage_ratio"),
        )
        .orderBy("layer")
    )


# ---------------------------------------------------------------------------
# ST_Buffer-lite (r13): Minkowski sum with a CHEBYSHEV disk of radius
# r (the square [-r,r]^2) is exact on the lattice — buffering a union
# is the union of buffered parts, so the engine decomposes the
# rectilinear polygon (general kernel), expands each slab rectangle by
# r, and takes the per-polygon scanline union area. The DuckDB twin is
# the 2-rect inclusion-exclusion closed form (the two expanded slabs
# always overlap, so |A u B| = |A| + |B| - |A n B|). No float circle
# approximation anywhere. At 100 TB: per-polygon work is width+2r
# columns — linear, no cross-polygon shuffle at all (key = rect_id).
@_q(
    "minkowski_buffer_area",
    f"""
    WITH lrects AS ({_SQL_LRECTS}),
    buf AS (
      SELECT rect_id,
             CAST(rect_id % 3 + 1 AS BIGINT) AS radius,
             (x1 - x0) * (ym - y0) + (xm - x0) * (y1 - ym) AS area_orig,
             -- expanded bottom slab A and top slab B
             x0 - (rect_id % 3 + 1) AS ax0, y0 - (rect_id % 3 + 1) AS ay0,
             x1 + (rect_id % 3 + 1) AS ax1, ym + (rect_id % 3 + 1) AS ay1,
             x0 - (rect_id % 3 + 1) AS bx0, ym - (rect_id % 3 + 1) AS by0,
             xm + (rect_id % 3 + 1) AS bx1, y1 + (rect_id % 3 + 1) AS by1
      FROM lrects
    )
    SELECT rect_id, radius,
           CAST(area_orig AS BIGINT) AS area_orig,
           CAST((ax1 - ax0) * (ay1 - ay0) + (bx1 - bx0) * (by1 - by0)
                - {_sql_rect_ov('ax0','ay0','ax1','ay1','bx0','by0','bx1','by1')}
                AS BIGINT) AS area_buffered
    FROM buf
    ORDER BY rect_id
    """,
)
def q_minkowski_buffer_area(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.geometry import rectilinear_decompose_col

    lrects = _lrects(spark, sf_dir)
    r = (F.col("rect_id") % 3 + 1).cast("int")
    slabs = lrects.select(
        "rect_id",
        r.alias("radius"),
        (
            (F.col("x1") - F.col("x0")) * (F.col("ym") - F.col("y0"))
            + (F.col("xm") - F.col("x0")) * (F.col("y1") - F.col("ym"))
        )
        .cast("bigint")
        .alias("area_orig"),
        F.explode(rectilinear_decompose_col(F.col("geometry"))).alias("s"),
    ).select(
        "rect_id",
        "radius",
        "area_orig",
        (F.element_at("s", 1).cast("int") - F.col("radius")).alias("x0"),
        (F.element_at("s", 2).cast("int") - F.col("radius")).alias("y0"),
        (F.element_at("s", 3).cast("int") + F.col("radius")).alias("x1"),
        (F.element_at("s", 4).cast("int") + F.col("radius")).alias("y1"),
    )
    cols = slabs.select(
        "rect_id",
        "radius",
        "area_orig",
        F.explode(F.sequence(F.col("x0"), F.col("x1") - 1)).alias("cx"),
        "y0",
        "y1",
    )
    w_ord = Window.partitionBy("rect_id", "cx").orderBy("y0", "y1")
    w_prev = w_ord.rowsBetween(Window.unboundedPreceding, -1)
    w_run = w_ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    flagged = cols.withColumn(
        "new_island",
        F.when(
            F.col("y0")
            > F.coalesce(F.max("y1").over(w_prev), F.lit(-2147483648)),
            1,
        ).otherwise(0),
    )
    islands = flagged.withColumn(
        "isl", F.sum("new_island").over(w_run)
    )
    isl_len = islands.groupBy(
        "rect_id", "radius", "area_orig", "cx", "isl"
    ).agg((F.max("y1") - F.min("y0")).alias("ylen"))
    return (
        isl_len.groupBy("rect_id", "radius", "area_orig")
        .agg(F.sum("ylen").cast("bigint").alias("area_buffered"))
        .select(
            "rect_id",
            F.col("radius").cast("bigint").alias("radius"),
            "area_orig",
            "area_buffered",
        )
        .orderBy("rect_id")
    )


# ---------------------------------------------------------------------------
# ST_ConvexHull aggregate (r13): per-nation convex hull of the customer
# point cloud — vertex count, exact lattice area, perimeter (decimal
# discipline), and squared diameter. The engine runs Andrew's monotone
# chain (O(n log n), `functions/geometry._convex_hull`) per group via
# applyInPandas on the DEDUPED lattice points; every downstream number
# (shoelace over hull edges, perimeter, diameter) is pure Catalyst.
# The DuckDB twin never builds a chain: it uses the maximal-edge
# identity — a directed pair (a,b) is a hull edge iff every other
# point is strictly left of it, or collinear strictly BETWEEN a and b
# (the betweenness clause rejects sub-edges of collinear runs, so the
# accepted edges are exactly the strict-vertex hull cycle) — and the
# diameter identity (max pairwise distance is attained at hull
# vertices, so the max over ALL point pairs equals it). Two genuinely
# different algorithms; all arithmetic on the integer lattice.
# At 100 TB: the dedup bounds each group at the lattice-domain size
# (1200 cells), the kernel is per-group tiny, and everything else is
# codegen — the same reduce-to-distinct-sites-first discipline as the
# r12 spatial-statistics tier.
@_q(
    "convex_hull_metrics",
    """
    WITH pts AS (
      SELECT DISTINCT CAST(c_nationkey AS BIGINT) AS nation,
             CAST(c_custkey % 40 AS BIGINT) AS px,
             CAST(c_custkey % 30 AS BIGINT) AS py
      FROM customer
    ),
    edges AS (
      SELECT a.nation, a.px AS ax, a.py AS ay, b.px AS bx, b.py AS by
      FROM pts a JOIN pts b
        ON a.nation = b.nation AND (a.px <> b.px OR a.py <> b.py)
      WHERE NOT EXISTS (
        SELECT 1 FROM pts p
        WHERE p.nation = a.nation
          AND NOT (p.px = a.px AND p.py = a.py)
          AND NOT (p.px = b.px AND p.py = b.py)
          AND (
            (b.px - a.px) * (p.py - a.py)
              - (b.py - a.py) * (p.px - a.px) < 0
            OR (
              (b.px - a.px) * (p.py - a.py)
                - (b.py - a.py) * (p.px - a.px) = 0
              AND NOT (
                (p.px - a.px) * (b.px - a.px)
                  + (p.py - a.py) * (b.py - a.py) > 0
                AND (p.px - a.px) * (b.px - a.px)
                      + (p.py - a.py) * (b.py - a.py)
                    < (b.px - a.px) * (b.px - a.px)
                      + (b.py - a.py) * (b.py - a.py)
              )
            )
          )
      )
    ),
    hull AS (
      SELECT nation,
             COUNT(*) AS n_hull_vertices,
             CAST(SUM(ax * by - ay * bx) AS DOUBLE) / 2.0 AS hull_area,
             round(CAST(SUM(CAST(round(
               sqrt(CAST((bx - ax) * (bx - ax)
                         + (by - ay) * (by - ay) AS DOUBLE)), 12)
               AS DECIMAL(38,12))) AS DOUBLE), 9) AS hull_perimeter
      FROM edges GROUP BY nation
    ),
    np AS (
      SELECT nation, COUNT(*) AS n_points FROM pts GROUP BY nation
    ),
    diam AS (
      SELECT a.nation,
             MAX((a.px - b.px) * (a.px - b.px)
                 + (a.py - b.py) * (a.py - b.py)) AS diam2
      FROM pts a JOIN pts b ON a.nation = b.nation
      GROUP BY a.nation
    )
    SELECT h.nation, np.n_points, h.n_hull_vertices, h.hull_area,
           h.hull_perimeter, d.diam2
    FROM hull h
    JOIN np ON np.nation = h.nation
    JOIN diam d ON d.nation = h.nation
    ORDER BY h.nation
    """,
)
def q_convex_hull_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pandas as pd

    cust = t(spark, sf_dir, "customer")
    pts = cust.select(
        F.col("c_nationkey").cast("bigint").alias("nation"),
        (F.col("c_custkey") % 40).cast("bigint").alias("px"),
        (F.col("c_custkey") % 30).cast("bigint").alias("py"),
    ).distinct()

    def hull_fn(key, pdf: "pd.DataFrame") -> "pd.DataFrame":
        import numpy as np

        from ..functions.geometry import _convex_hull

        arr = np.unique(pdf[["px", "py"]].to_numpy(dtype=np.float64), axis=0)
        h = _convex_hull(arr)
        return pd.DataFrame(
            {
                "nation": key[0],
                "seq": range(len(h)),
                "hx": h[:, 0].astype("int64"),
                "hy": h[:, 1].astype("int64"),
            }
        )

    hulls = pts.groupBy("nation").applyInPandas(
        hull_fn, "nation bigint, seq int, hx bigint, hy bigint"
    )
    w = Window.partitionBy("nation").orderBy("seq")
    w_all = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    edges = hulls.select(
        "nation",
        "hx",
        "hy",
        F.coalesce(F.lead("hx").over(w), F.first("hx").over(w_all)).alias("nx"),
        F.coalesce(F.lead("hy").over(w), F.first("hy").over(w_all)).alias("ny"),
    )
    d = F.sqrt(
        ((F.col("nx") - F.col("hx")) * (F.col("nx") - F.col("hx"))
         + (F.col("ny") - F.col("hy")) * (F.col("ny") - F.col("hy"))
        ).cast("double")
    )
    hull_agg = edges.groupBy("nation").agg(
        F.count(F.lit(1)).alias("n_hull_vertices"),
        (
            F.sum(F.col("hx") * F.col("ny") - F.col("hy") * F.col("nx"))
            .cast("double") / 2.0
        ).alias("hull_area"),
        F.round(
            F.sum(F.round(d, 12).cast("decimal(38,12)")).cast("double"), 9
        ).alias("hull_perimeter"),
    )
    n_points = pts.groupBy("nation").agg(F.count(F.lit(1)).alias("n_points"))
    hb = hulls.select(
        F.col("nation").alias("nation_b"),
        F.col("hx").alias("bx"),
        F.col("hy").alias("by"),
    )
    diam = (
        hulls.join(hb, F.col("nation") == F.col("nation_b"))
        .groupBy("nation")
        .agg(
            F.max(
                (F.col("hx") - F.col("bx")) * (F.col("hx") - F.col("bx"))
                + (F.col("hy") - F.col("by")) * (F.col("hy") - F.col("by"))
            ).alias("diam2")
        )
    )
    return (
        hull_agg.join(n_points, "nation")
        .join(diam, "nation")
        .select(
            "nation",
            "n_points",
            "n_hull_vertices",
            "hull_area",
            "hull_perimeter",
            "diam2",
        )
        .orderBy("nation")
    )


# ---------------------------------------------------------------------------
# ST_Contains for GENERAL (concave) polygons in PURE Catalyst (r13):
# even-odd ray casting with the integer cross-multiplied crossing
# test — for edge (x1,y1)-(x2,y2) and query point (px,py), the +x ray
# crosses iff (y1>py) != (y2>py) and the sign-adjusted determinant
# (px-x1)(y2-y1) - (py-y1)(x2-x1) is on the inside of the edge's
# y-direction. No division, no UDF: integer-exact for any simple
# polygon, vertices streamed straight out of the WKT string with the
# same split/posexplode parse the linestring ops use. Strict
# inequalities give the standard half-open boundary convention, which
# is exactly slab membership [x0,x1) x [y0,y1) on rectilinear input —
# so the DuckDB twin checks the L-zones' 2-slab boxes directly (a
# different derivation). At 100 TB: the polygon dim broadcasts as an
# edge list; per (point, edge) work is codegen; parity is one
# map-side-combinable groupBy per (point, zone).
@_q(
    "point_in_polygon_raycast",
    f"""
    WITH lzones AS ({_SQL_LZONES}),
    pts AS (
      SELECT c_custkey AS point_id,
             CAST(c_custkey % 40 AS BIGINT) AS px,
             CAST(c_custkey % 30 AS BIGINT) AS py
      FROM customer
    ),
    hits AS (
      SELECT z.zone_id, p.point_id
      FROM lzones z JOIN pts p
        ON (p.px >= z.zx0 AND p.px < z.zx1
            AND p.py >= z.zy0 AND p.py < z.zym)
        OR (p.px >= z.zx0 AND p.px < z.zxm
            AND p.py >= z.zym AND p.py < z.zy1)
    )
    SELECT z.zone_id,
           COALESCE(h.n_inside, 0) AS n_inside,
           COALESCE(h.sum_ids, 0) AS sum_ids
    FROM lzones z LEFT JOIN (
      SELECT zone_id, CAST(COUNT(*) AS BIGINT) AS n_inside,
             CAST(SUM(point_id) AS BIGINT) AS sum_ids
      FROM hits GROUP BY zone_id
    ) h ON h.zone_id = z.zone_id
    ORDER BY z.zone_id
    """,
)
def q_point_in_polygon_raycast(spark: SparkSession, sf_dir: str) -> DataFrame:
    zones = _lzones(spark)
    verts = zones.select(
        "zone_id",
        F.posexplode(
            F.split(
                F.regexp_extract(
                    F.col("zone_geom"), r"POLYGON\(\((.*)\)\)", 1
                ),
                ", ",
            )
        ).alias("idx", "pt"),
    ).select(
        "zone_id",
        "idx",
        F.split(F.col("pt"), " ")[0].cast("bigint").alias("vx"),
        F.split(F.col("pt"), " ")[1].cast("bigint").alias("vy"),
    )
    w = Window.partitionBy("zone_id").orderBy("idx")
    edges = (
        verts.select(
            "zone_id",
            F.col("vx").alias("x1"),
            F.col("vy").alias("y1"),
            F.lead("vx").over(w).alias("x2"),
            F.lead("vy").over(w).alias("y2"),
        )
        .where(F.col("x2").isNotNull())
    )
    pts = _points(spark, sf_dir).select(
        "point_id",
        F.col("px").cast("bigint").alias("px"),
        F.col("py").cast("bigint").alias("py"),
    )
    y1, y2 = F.col("y1"), F.col("y2")
    det = (F.col("px") - F.col("x1")) * (y2 - y1) - (
        F.col("py") - y1
    ) * (F.col("x2") - F.col("x1"))
    crossing = ((y1 > F.col("py")) != (y2 > F.col("py"))) & (
        F.when(y2 > y1, det < 0).otherwise(det > 0)
    )
    parity = (
        pts.crossJoin(F.broadcast(edges))
        .where(crossing)
        .groupBy("point_id", "zone_id")
        .agg(F.count(F.lit(1)).alias("n_crossings"))
        .where(F.col("n_crossings") % 2 == 1)
    )
    per_zone = parity.groupBy("zone_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_inside"),
        F.sum("point_id").cast("bigint").alias("sum_ids"),
    )
    return (
        zones.select("zone_id")
        .join(per_zone, "zone_id", "left")
        .select(
            "zone_id",
            F.coalesce(F.col("n_inside"), F.lit(0)).alias("n_inside"),
            F.coalesce(F.col("sum_ids"), F.lit(0)).alias("sum_ids"),
        )
        .orderBy("zone_id")
    )


# ---------------------------------------------------------------------------
# Nearest-neighbor SPATIAL JOIN (r13) — the canonical GIS join: for
# every click event, the nearest purchase event (squared euclidean,
# ties broken by smaller purchase id), censored past d2 > 256. Engine
# plan is the two-pass blocked refinement clark_evans_nn uses, applied
# to a JOIN instead of a statistic: pass 1 probes 3x3 blocks of CELL=4
# (complete for d2 <= 16 — any point within euclidean 4 is within
# Chebyshev 4 of the probe, covered even from a block edge) and
# settles ~all clicks at real densities; the remainder rescans at
# CELL=16 (complete for d2 <= 256). min(struct(d2, pid)) makes the
# tie-break deterministic and shuffle-free (map-side partial min).
# The DuckDB twin brute-forces the full cross product with a QUALIFY
# row_number — a different algorithm. At 100 TB: candidates are
# clicks x local purchase density; no all-pairs anywhere.
@_q(
    "nn_join_click_purchase",
    """
    WITH ev AS (
      SELECT event_id, event_type,
             ((event_id * 48271) % 2147483647) % 256 AS px,
             (((event_id * 48271) % 2147483647) // 256) % 256 AS py
      FROM events WHERE event_type IN ('click', 'purchase')
    ),
    clicks AS (SELECT event_id, px, py FROM ev WHERE event_type = 'click'),
    purch AS (SELECT event_id, px, py FROM ev WHERE event_type = 'purchase'),
    pairs AS (
      SELECT c.event_id AS click_id, p.event_id AS purchase_id,
             (c.px - p.px) * (c.px - p.px)
             + (c.py - p.py) * (c.py - p.py) AS d2
      FROM clicks c, purch p
    )
    SELECT click_id, purchase_id AS nn_purchase_id, CAST(d2 AS BIGINT) AS nn_d2
    FROM pairs
    WHERE d2 <= 256
    QUALIFY ROW_NUMBER() OVER (
      PARTITION BY click_id ORDER BY d2, purchase_id) = 1
    ORDER BY click_id
    """,
)
def q_nn_join_click_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = (
        t(spark, sf_dir, "events")
        .where(F.col("event_type").isin("click", "purchase"))
        .select(
            "event_id",
            "event_type",
            ((F.col("event_id") * 48271) % 2147483647 % 256).alias("px"),
            (
                F.expr("((event_id * 48271) % 2147483647) div 256") % 256
            ).alias("py"),
        )
        .localCheckpoint(eager=True)
    )
    clicks = ev.where(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"), "px", "py"
    )
    purch = ev.where(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        F.col("px").alias("qx"),
        F.col("py").alias("qy"),
    )
    offs = (
        spark.range(-1, 2)
        .select(F.col("id").alias("dx"))
        .crossJoin(spark.range(-1, 2).select(F.col("id").alias("dy")))
    )
    d2 = (F.col("px") - F.col("qx")) * (F.col("px") - F.col("qx")) + (
        F.col("py") - F.col("qy")
    ) * (F.col("py") - F.col("qy"))
    winner = F.min(
        F.struct(d2.alias("d2"), F.col("purchase_id").alias("pid"))
    ).alias("w")

    def blocked_nn(cands: DataFrame, cell: int, complete_d2: int) -> DataFrame:
        probes = cands.crossJoin(F.broadcast(offs)).select(
            "click_id",
            "px",
            "py",
            (F.expr(f"px div {cell}") + F.col("dx")).alias("ncx"),
            (F.expr(f"py div {cell}") + F.col("dy")).alias("ncy"),
        )
        build = purch.select(
            "purchase_id",
            "qx",
            "qy",
            F.expr(f"qx div {cell}").alias("ncx"),
            F.expr(f"qy div {cell}").alias("ncy"),
        )
        return (
            probes.repartition(  # AQE would single-task this join
                spark.sparkContext.defaultParallelism, "ncx", "ncy"
            )
            .join(build, ["ncx", "ncy"])
            .groupBy("click_id")
            .agg(winner)
            .where(F.col("w.d2") <= complete_d2)
            .select(
                "click_id",
                F.col("w.pid").alias("nn_purchase_id"),
                F.col("w.d2").cast("bigint").alias("nn_d2"),
            )
        )

    pass1 = blocked_nn(clicks, 4, 16)
    unresolved = clicks.join(pass1, "click_id", "left_anti")
    pass2 = blocked_nn(unresolved, 16, 256)
    return pass1.unionByName(pass2).orderBy("click_id")


# ---------------------------------------------------------------------------
# k-NEAREST-NEIGHBORS spatial join (r13, k=3) — the ranked
# generalization of nn_join_click_purchase: per click, the 3 nearest
# purchases (order d2 then purchase id), censored past d2 > 256;
# clicks with fewer than 3 in-range purchases emit the ranks they
# have. Two-pass completeness for TOP-K: pass 1 (CELL=4 blocks,
# complete for d2 <= 16) settles a click only if it finds >= k
# candidates AND the k-th distance is <= 16 — then its local top-k is
# the global top-k; everything else rescans at CELL=16, whose 3x3
# neighborhood contains EVERY purchase with d2 <= 256, so partial
# result sets there are exact too. Ranking is a (click-partitioned)
# window over bounded candidate lists — never all-pairs. DuckDB twin:
# brute-force cross product + QUALIFY row_number <= 3.
@_q(
    "knn_join_topk",
    """
    WITH ev AS (
      SELECT event_id, event_type,
             ((event_id * 48271) % 2147483647) % 256 AS px,
             (((event_id * 48271) % 2147483647) // 256) % 256 AS py
      FROM events WHERE event_type IN ('click', 'purchase')
    ),
    clicks AS (SELECT event_id, px, py FROM ev WHERE event_type = 'click'),
    purch AS (SELECT event_id, px, py FROM ev WHERE event_type = 'purchase'),
    pairs AS (
      SELECT c.event_id AS click_id, p.event_id AS purchase_id,
             (c.px - p.px) * (c.px - p.px)
             + (c.py - p.py) * (c.py - p.py) AS d2
      FROM clicks c, purch p
    )
    SELECT click_id,
           CAST(ROW_NUMBER() OVER (
             PARTITION BY click_id ORDER BY d2, purchase_id) AS BIGINT)
             AS rank,
           purchase_id AS nn_purchase_id,
           CAST(d2 AS BIGINT) AS nn_d2
    FROM pairs
    WHERE d2 <= 256
    QUALIFY ROW_NUMBER() OVER (
      PARTITION BY click_id ORDER BY d2, purchase_id) <= 3
    ORDER BY click_id, rank
    """,
)
def q_knn_join_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    k = 3
    ev = (
        t(spark, sf_dir, "events")
        .where(F.col("event_type").isin("click", "purchase"))
        .select(
            "event_id",
            "event_type",
            ((F.col("event_id") * 48271) % 2147483647 % 256).alias("px"),
            (
                F.expr("((event_id * 48271) % 2147483647) div 256") % 256
            ).alias("py"),
        )
        .localCheckpoint(eager=True)
    )
    clicks = ev.where(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"), "px", "py"
    )
    purch = ev.where(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        F.col("px").alias("qx"),
        F.col("py").alias("qy"),
    )
    offs = (
        spark.range(-1, 2)
        .select(F.col("id").alias("dx"))
        .crossJoin(spark.range(-1, 2).select(F.col("id").alias("dy")))
    )
    d2 = (F.col("px") - F.col("qx")) * (F.col("px") - F.col("qx")) + (
        F.col("py") - F.col("qy")
    ) * (F.col("py") - F.col("qy"))

    def ranked_candidates(cands: DataFrame, cell: int) -> DataFrame:
        probes = cands.crossJoin(F.broadcast(offs)).select(
            "click_id",
            "px",
            "py",
            (F.expr(f"px div {cell}") + F.col("dx")).alias("ncx"),
            (F.expr(f"py div {cell}") + F.col("dy")).alias("ncy"),
        )
        build = purch.select(
            "purchase_id",
            "qx",
            "qy",
            F.expr(f"qx div {cell}").alias("ncx"),
            F.expr(f"qy div {cell}").alias("ncy"),
        )
        w = Window.partitionBy("click_id").orderBy("d2", "purchase_id")
        return (
            probes.repartition(  # AQE would single-task this join
                spark.sparkContext.defaultParallelism, "ncx", "ncy"
            )
            .join(build, ["ncx", "ncy"])
            .select("click_id", "purchase_id", d2.alias("d2"))
            .withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= k)
        )

    r1 = ranked_candidates(clicks, 4)
    # settled iff the k-th local candidate exists within the pass-1
    # completeness radius — then local top-k == global top-k
    settled_ids = (
        r1.groupBy("click_id")
        .agg(F.count(F.lit(1)).alias("c"), F.max("d2").alias("dk"))
        .where((F.col("c") == k) & (F.col("dk") <= 16))
        .select("click_id")
    )
    pass1 = r1.join(settled_ids, "click_id")
    unresolved = clicks.join(settled_ids, "click_id", "left_anti")
    pass2 = ranked_candidates(unresolved, 16).where(F.col("d2") <= 256)
    return (
        pass1.unionByName(pass2)
        .select(
            "click_id",
            F.col("rank").cast("bigint").alias("rank"),
            F.col("purchase_id").alias("nn_purchase_id"),
            F.col("d2").cast("bigint").alias("nn_d2"),
        )
        .orderBy("click_id", "rank")
    )


# ---------------------------------------------------------------------------
# Symmetric HAUSDORFF distance between two point SETS (r13) — the
# standard set-similarity metric of computational geometry (how far
# apart are the click footprint and the purchase footprint as SHAPES):
# H(A,B) = max( max_a min_b d, max_b min_a d ), computed on squared
# euclidean over the deduped lattice sites (set semantics). Engine:
# the directed half runs the escalating blocked-NN refinement (CELL=4
# complete for d2<=16, CELL=16 complete for d2<=256) and finishes the
# stragglers against a BROADCAST of the other side's sites — sites are
# domain-bounded (<= 256^2) no matter how many events exist, so the
# fallback is scale-safe and the answer is EXACT (no censoring). The
# DuckDB twin brute-forces both min-max directions.
@_q(
    "hausdorff_sets_click_purchase",
    """
    WITH ev AS (
      SELECT DISTINCT event_type,
             ((event_id * 48271) % 2147483647) % 256 AS px,
             (((event_id * 48271) % 2147483647) // 256) % 256 AS py
      FROM events WHERE event_type IN ('click', 'purchase')
    ),
    a AS (SELECT px, py FROM ev WHERE event_type = 'click'),
    b AS (SELECT px, py FROM ev WHERE event_type = 'purchase'),
    dab AS (
      SELECT a.px, a.py,
             MIN((a.px - b.px) * (a.px - b.px)
                 + (a.py - b.py) * (a.py - b.py)) AS dmin
      FROM a, b GROUP BY a.px, a.py
    ),
    dba AS (
      SELECT b.px, b.py,
             MIN((a.px - b.px) * (a.px - b.px)
                 + (a.py - b.py) * (a.py - b.py)) AS dmin
      FROM b, a GROUP BY b.px, b.py
    )
    SELECT CAST((SELECT MAX(dmin) FROM dab) AS BIGINT) AS h_ab_d2,
           CAST((SELECT MAX(dmin) FROM dba) AS BIGINT) AS h_ba_d2,
           CAST(GREATEST((SELECT MAX(dmin) FROM dab),
                         (SELECT MAX(dmin) FROM dba)) AS BIGINT)
             AS hausdorff_d2
    """,
)
def q_hausdorff_sets_click_purchase(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    ev = (
        t(spark, sf_dir, "events")
        .where(F.col("event_type").isin("click", "purchase"))
        .select(
            "event_type",
            ((F.col("event_id") * 48271) % 2147483647 % 256).alias("px"),
            (
                F.expr("((event_id * 48271) % 2147483647) div 256") % 256
            ).alias("py"),
        )
        .distinct()
        .localCheckpoint(eager=True)
    )
    a = ev.where(F.col("event_type") == "click").select("px", "py")
    b = ev.where(F.col("event_type") == "purchase").select(
        F.col("px").alias("qx"), F.col("py").alias("qy")
    )
    offs = (
        spark.range(-1, 2)
        .select(F.col("id").alias("dx"))
        .crossJoin(spark.range(-1, 2).select(F.col("id").alias("dy")))
    )
    d2 = (F.col("px") - F.col("qx")) * (F.col("px") - F.col("qx")) + (
        F.col("py") - F.col("qy")
    ) * (F.col("py") - F.col("qy"))

    def directed_max_min(src: DataFrame, dst: DataFrame) -> DataFrame:
        """max over src sites of (exact min d2 to dst sites): blocked
        passes + broadcast fallback; returns a 1-row DF col 'h'."""
        resolved = None
        remaining = src
        for cell, complete in ((4, 16), (16, 256)):
            probes = remaining.crossJoin(F.broadcast(offs)).select(
                "px",
                "py",
                (F.expr(f"px div {cell}") + F.col("dx")).alias("ncx"),
                (F.expr(f"py div {cell}") + F.col("dy")).alias("ncy"),
            )
            build = dst.select(
                "qx",
                "qy",
                F.expr(f"qx div {cell}").alias("ncx"),
                F.expr(f"qy div {cell}").alias("ncy"),
            )
            nn = (
                probes.join(build, ["ncx", "ncy"])
                .groupBy("px", "py")
                .agg(F.min(d2).alias("dmin"))
                .where(F.col("dmin") <= complete)
                .localCheckpoint(eager=True)
            )
            resolved = nn if resolved is None else resolved.unionByName(nn)
            remaining = remaining.join(nn, ["px", "py"], "left_anti")
        # stragglers: exact min against the broadcast site set (sites
        # are domain-bounded, so this never grows with event volume)
        far = (
            remaining.crossJoin(F.broadcast(dst))
            .groupBy("px", "py")
            .agg(F.min(d2).alias("dmin"))
        )
        return resolved.unionByName(far).agg(F.max("dmin").alias("h"))

    h_ab = directed_max_min(a, b).select(
        F.col("h").cast("bigint").alias("h_ab_d2")
    )
    h_ba = directed_max_min(
        b.select(F.col("qx").alias("px"), F.col("qy").alias("py")),
        a.select(F.col("px").alias("qx"), F.col("py").alias("qy")),
    ).select(F.col("h").cast("bigint").alias("h_ba_d2"))
    return h_ab.crossJoin(F.broadcast(h_ba)).select(
        "h_ab_d2",
        "h_ba_d2",
        F.greatest("h_ab_d2", "h_ba_d2").alias("hausdorff_d2"),
    )


# ---------------------------------------------------------------------------
# Douglas-Peucker polyline simplification (Douglas & Peucker 1973,
# r13) — ST_Simplify, EXACT on the integer lattice: the recursive
# split keeps the interior vertex with the maximum line distance when
# that distance exceeds the tolerance. Within one segment the
# denominator len2 is constant, so the argmax reduces to the integer
# cross^2 (ties -> smallest index), and the tolerance test
# dist > 3/2 becomes the pure-integer comparison
# 4*cross^2 > 9*len2 — no float anywhere, so the DP tree is identical
# in both engines. Spark runs the split as a driver-bounded iterative
# DataFrame loop (depth <= vertex count, all Catalyst: equi-join on
# line_id + window argmax per active segment); the DuckDB twin runs
# the SAME recursion as a recursive CTE with a LATERAL VALUES split —
# different machinery, same exact integers. Kept vertices = every
# endpoint the recursion ever produced. The fixture is nearly
# collinear (unit wiggles on a straight base) so the tolerance
# genuinely separates kept from dropped vertices. At 100 TB: lines
# parallelize freely; per-line work is bounded by the vertex count;
# the loop depth is the DP tree depth, not the line count.
@_q(
    "polyline_simplify_dp",
    """
    WITH RECURSIVE verts AS (
      SELECT o_orderkey AS line_id, CAST(t.i AS BIGINT) AS idx,
             CAST(t.i * 10 AS BIGINT) AS x,
             CAST(o_orderkey * 7 + t.i * t.i * 31
                  + (o_orderkey % 11) * t.i AS BIGINT) % 5 - 2
               + CAST(t.i * 2 AS BIGINT) AS y
      FROM orders, range(0, 9) t(i)
    ),
    segs(line_id, ai, bi) AS (
      SELECT line_id, CAST(0 AS BIGINT), CAST(8 AS BIGINT) FROM verts
      WHERE idx = 0
      UNION ALL
      SELECT q.line_id, v.na, v.nb
      FROM (
        SELECT c.line_id, c.ai, c.bi, c.k, c.c2, c.len2,
               row_number() OVER (PARTITION BY c.line_id, c.ai, c.bi
                                  ORDER BY c.c2 DESC, c.k ASC) AS rn
        FROM (
          SELECT s.line_id, s.ai, s.bi, p.idx AS k,
                 ((b.x - a.x) * (p.y - a.y)
                  - (b.y - a.y) * (p.x - a.x))
                 * ((b.x - a.x) * (p.y - a.y)
                    - (b.y - a.y) * (p.x - a.x)) AS c2,
                 (b.x - a.x) * (b.x - a.x)
                   + (b.y - a.y) * (b.y - a.y) AS len2
          FROM segs s
          JOIN verts a ON a.line_id = s.line_id AND a.idx = s.ai
          JOIN verts b ON b.line_id = s.line_id AND b.idx = s.bi
          JOIN verts p ON p.line_id = s.line_id
                      AND p.idx > s.ai AND p.idx < s.bi
        ) c
        QUALIFY rn = 1
      ) q, LATERAL (VALUES (q.ai, q.k), (q.k, q.bi)) v(na, nb)
      WHERE 4 * q.c2 > 9 * q.len2
    ),
    kept AS (
      -- single DISTINCT over a lateral unpivot: DuckDB's UNION failed
      -- to dedupe across two separate references to the recursive CTE
      SELECT DISTINCT s.line_id, t.vidx
      FROM segs s, LATERAL (VALUES (s.ai), (s.bi)) t(vidx)
    )
    SELECT k.line_id, k.vidx, v.x, v.y
    FROM kept k JOIN verts v ON v.line_id = k.line_id AND v.idx = k.vidx
    ORDER BY k.line_id, k.vidx
    """,
)
def q_polyline_simplify_dp(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.functions import pandas_udf
    import numpy as np
    import pandas as pd

    from ..operators.spread import spread_cpu

    # single-split source (fixtures are one row group): spread the
    # Arrow DP kernel across cores; no-op at production split counts
    orders = spread_cpu(
        t(spark, sf_dir, "orders").select(F.col("o_orderkey").alias("line_id"))
    )

    # The vertex table this query declares is a pure function of
    # (line_id, idx): x = idx*10 and y = f(line_id, idx) by the query's
    # own synthesis. So the y-vector per line is a projection — the
    # former crossJoin(range(9)) + groupBy(collect_list) + final
    # re-join pipeline shuffled 9x the line count twice for values the
    # expression layer can synthesize in place (§2.1: remove the
    # shuffle outright). Identical expressions ⇒ identical values.
    def _y(line_id, k):
        return (
            (line_id * 7 + k * k * 31 + (line_id % 11) * k) % 5 - 2 + k * 2
        ).cast("bigint")

    arrs = orders.select(
        "line_id",
        F.transform(
            F.sequence(F.lit(0).cast("bigint"), F.lit(8).cast("bigint")),
            lambda k: _y(F.col("line_id"), k),
        ).alias("vs"),
    )

    # Plan choice: these are SHORT lines (9 vertices), so the integer
    # DP runs in an Arrow-batched kernel — the alternative
    # iterative-DataFrame plan (split frontier per round, hash-agg
    # argmax) is the right shape for MILLION-vertex lines where one
    # line's vertices exceed a task; at 9 vertices its O(depth) jobs
    # are pure overhead (measured 12 s vs ~2 s at sf0.1).
    # The kernel vectorizes the Douglas-Peucker recursion ACROSS lines
    # (§4.2, dp_kept_batch): one frontier of (row, a, b) segments per
    # depth level, all cross products for a level in one numpy pass —
    # bit-identical to the former per-row DP (the kept set is
    # traversal-order independent; same int64 math; pinned by
    # tests/test_polyline_batch.py fixture-range + fuzz).
    def _dp_kept(vs):
        from ..functions.geometry import dp_kept_batch

        if len(vs) == 0:
            return pd.Series([], dtype=object)
        return pd.Series(dp_kept_batch(np.stack(vs.to_numpy())))

    dp_kept = pandas_udf(_dp_kept, "array<bigint>")
    kept = arrs.select("line_id", F.explode(dp_kept(F.col("vs"))).alias("vidx"))
    # x and y re-synthesized from (line_id, vidx) with the query's own
    # defining expressions — the former join back to the vertex table
    # (another 9x-rows shuffle) carried only these derivable columns.
    # lazy barrier under the global sort — orderBy's range-partitioner
    # sampling pass would run the Arrow kernel a second time
    return kept.select(
        "line_id",
        "vidx",
        (F.col("vidx") * 10).cast("bigint").alias("x"),
        _y(F.col("line_id"), F.col("vidx")).alias("y"),
    ).localCheckpoint(eager=False).orderBy("line_id", "vidx")


# ---------------------------------------------------------------------------
# Line x CONCAVE-polygon clip length (r13) — completes the overlay
# matrix (point x concave: raycast; polygon x concave: ear-clip
# overlay; line x concave: THIS). The engine decomposes each
# rectilinear zone with the general kernel into interior-disjoint
# slabs, Liang-Barsky-clips every segment against every slab (the
# same branchless closed form line_clip_length proves), and sums —
# slab interiors are disjoint, so per-zone lengths add exactly (a
# segment running EXACTLY along a shared slab edge is counted once
# per touching slab — the same boundary convention line_clip_length
# uses across adjacent zones; stated estimator, identical in both
# engines). The DuckDB twin decomposes the L-zones algebraically;
# per-term round(12) -> DECIMAL(38,12) accumulation keeps the float
# sum order-free WITHIN each engine, but round(double,12) itself is
# not bit-portable (Spark rounds the shortest-repr BigDecimal, DuckDB
# the exact binary — a ~5e-15/term systematic bias, measured ~1e-9 on
# the 2.4e6-length zone sums at sf0.1), so the OUTPUT rounds to 3
# decimals: millimeter precision on kilometer-scale sums, 6 orders
# above the cross-engine drift. At 100 TB: the zone/slab dim
# broadcasts; per-pair math is pure codegen on the segment stream.
@_q(
    "line_clip_concave_length",
    f"""
    WITH lines AS (
      SELECT o_orderkey AS line_id,
             'LINESTRING(' ||
             CAST(o_orderkey % 100 AS VARCHAR) || ' ' || CAST(o_orderkey % 80 AS VARCHAR) || ', ' ||
             CAST(o_orderkey * 3 % 100 AS VARCHAR) || ' ' || CAST(o_orderkey * 7 % 80 AS VARCHAR) || ', ' ||
             CAST(o_orderkey * 11 % 100 AS VARCHAR) || ' ' || CAST(o_orderkey * 13 % 80 AS VARCHAR) || ', ' ||
             CAST(o_orderkey * 17 % 100 AS VARCHAR) || ' ' || CAST(o_orderkey * 19 % 80 AS VARCHAR) || ')'
               AS geometry
      FROM orders
    ),
    split AS (
      SELECT line_id,
             string_split(regexp_extract(geometry, 'LINESTRING\\((.*)\\)', 1), ', ')
               AS parts
      FROM lines
    ),
    verts AS (
      SELECT line_id, CAST(t.i AS INT) AS idx,
             CAST(string_split(parts[CAST(t.i AS INT)], ' ')[1] AS DOUBLE) AS x,
             CAST(string_split(parts[CAST(t.i AS INT)], ' ')[2] AS DOUBLE) AS y
      FROM split JOIN range(1, 64) t(i) ON t.i <= len(parts)
    ),
    segs AS (
      SELECT line_id, x, y,
             LEAD(x) OVER (PARTITION BY line_id ORDER BY idx) AS nx,
             LEAD(y) OVER (PARTITION BY line_id ORDER BY idx) AS ny
      FROM verts
    ),
    lzones AS ({_SQL_LZONES}),
    slabs AS (
      SELECT zone_id, CAST(zx0 AS DOUBLE) AS sx0, CAST(zy0 AS DOUBLE) AS sy0,
             CAST(zx1 AS DOUBLE) AS sx1, CAST(zym AS DOUBLE) AS sy1
      FROM lzones
      UNION ALL
      SELECT zone_id, CAST(zx0 AS DOUBLE), CAST(zym AS DOUBLE),
             CAST(zxm AS DOUBLE), CAST(zy1 AS DOUBLE)
      FROM lzones
    ),
    pairs AS (
      SELECT z.zone_id,
             GREATEST(0.0,
               CASE WHEN s.nx - s.x > 0 THEN (z.sx0 - s.x) / (s.nx - s.x)
                    WHEN s.nx - s.x < 0 THEN (z.sx1 - s.x) / (s.nx - s.x)
                    WHEN s.x >= z.sx0 AND s.x <= z.sx1 THEN -1e18
                    ELSE 1e18 END,
               CASE WHEN s.ny - s.y > 0 THEN (z.sy0 - s.y) / (s.ny - s.y)
                    WHEN s.ny - s.y < 0 THEN (z.sy1 - s.y) / (s.ny - s.y)
                    WHEN s.y >= z.sy0 AND s.y <= z.sy1 THEN -1e18
                    ELSE 1e18 END) AS t_en,
             LEAST(1.0,
               CASE WHEN s.nx - s.x > 0 THEN (z.sx1 - s.x) / (s.nx - s.x)
                    WHEN s.nx - s.x < 0 THEN (z.sx0 - s.x) / (s.nx - s.x)
                    WHEN s.x >= z.sx0 AND s.x <= z.sx1 THEN 1e18
                    ELSE -1e18 END,
               CASE WHEN s.ny - s.y > 0 THEN (z.sy1 - s.y) / (s.ny - s.y)
                    WHEN s.ny - s.y < 0 THEN (z.sy0 - s.y) / (s.ny - s.y)
                    WHEN s.y >= z.sy0 AND s.y <= z.sy1 THEN 1e18
                    ELSE -1e18 END) AS t_ex,
             sqrt((s.nx - s.x) * (s.nx - s.x)
                  + (s.ny - s.y) * (s.ny - s.y)) AS seg_len
      FROM segs s CROSS JOIN slabs z
      WHERE s.nx IS NOT NULL
    )
    SELECT zone_id,
           CAST(SUM(CASE WHEN t_ex > t_en AND seg_len > 0
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_contrib,
           round(CAST(SUM(CAST(round(
             CASE WHEN t_ex > t_en THEN (t_ex - t_en) * seg_len
                  ELSE 0.0 END, 12) AS DECIMAL(38,12))) AS DOUBLE), 3)
             AS clipped_length
    FROM pairs GROUP BY zone_id ORDER BY zone_id
    """,
)
def q_line_clip_concave_length(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.geometry import rectilinear_decompose_col

    o = t(spark, sf_dir, "orders").select("o_orderkey")
    k = F.col("o_orderkey")

    def pt(mx: int, my: int) -> F.Column:
        return F.concat(
            (k * mx % 100).cast("string"), F.lit(" "), (k * my % 80).cast("string")
        )

    lines = o.select(
        k.alias("line_id"),
        F.concat(
            F.lit("LINESTRING("),
            pt(1, 1), F.lit(", "),
            pt(3, 7), F.lit(", "),
            pt(11, 13), F.lit(", "),
            pt(17, 19),
            F.lit(")"),
        ).alias("geometry"),
    )
    verts = lines.select(
        "line_id",
        F.posexplode(
            F.split(F.regexp_extract("geometry", r"LINESTRING\((.*)\)", 1), ", ")
        ).alias("idx", "pt"),
    ).select(
        "line_id",
        "idx",
        F.split("pt", " ").getItem(0).cast("double").alias("x"),
        F.split("pt", " ").getItem(1).cast("double").alias("y"),
    )
    w = Window.partitionBy("line_id").orderBy("idx")
    segs = verts.select(
        "line_id",
        "x",
        "y",
        F.lead("x").over(w).alias("nx"),
        F.lead("y").over(w).alias("ny"),
    ).where(F.col("nx").isNotNull())
    # concave zones decomposed by the GENERAL kernel into slabs
    slabs = _lzones(spark).select(
        "zone_id",
        F.explode(rectilinear_decompose_col(F.col("zone_geom"))).alias("s"),
    ).select(
        "zone_id",
        F.element_at("s", 1).alias("sx0"),
        F.element_at("s", 2).alias("sy0"),
        F.element_at("s", 3).alias("sx1"),
        F.element_at("s", 4).alias("sy1"),
    )
    dx = F.col("nx") - F.col("x")
    dy = F.col("ny") - F.col("y")

    def t_bounds(d, p, lo, hi):
        inside = (p >= F.col(lo)) & (p <= F.col(hi))
        t_lo = (
            F.when(d > 0, (F.col(lo) - p) / d)
            .when(d < 0, (F.col(hi) - p) / d)
            .otherwise(F.when(inside, F.lit(-1e18)).otherwise(F.lit(1e18)))
        )
        t_hi = (
            F.when(d > 0, (F.col(hi) - p) / d)
            .when(d < 0, (F.col(lo) - p) / d)
            .otherwise(F.when(inside, F.lit(1e18)).otherwise(F.lit(-1e18)))
        )
        return t_lo, t_hi

    txlo, txhi = t_bounds(dx, F.col("x"), "sx0", "sx1")
    tylo, tyhi = t_bounds(dy, F.col("y"), "sy0", "sy1")
    pairs = segs.crossJoin(F.broadcast(slabs)).select(
        "zone_id",
        F.greatest(F.lit(0.0), txlo, tylo).alias("t_en"),
        F.least(F.lit(1.0), txhi, tyhi).alias("t_ex"),
        F.sqrt(dx * dx + dy * dy).alias("seg_len"),
    )
    return (
        pairs.groupBy("zone_id")
        .agg(
            F.sum(
                F.when((F.col("t_ex") > F.col("t_en")) & (F.col("seg_len") > 0), 1)
                .otherwise(0)
            )
            .cast("bigint")
            .alias("n_contrib"),
            F.round(
                F.sum(
                    F.round(
                        F.when(
                            F.col("t_ex") > F.col("t_en"),
                            (F.col("t_ex") - F.col("t_en")) * F.col("seg_len"),
                        ).otherwise(0.0),
                        12,
                    ).cast("decimal(38,12)")
                ).cast("double"),
                3,
            ).alias("clipped_length"),
        )
        .orderBy("zone_id")
    )


# ---------------------------------------------------------------------------
# Geodesic (spherical) polygon area — the first sphere-aware metric
# in the geometry tier: the planar shoelace under-reports real-Earth
# areas, so GIS engines compute areas on the spheroid. This uses the
# spherical-excess discretization of Chamberlain & Duquette (ESRI,
# 2007): A = R^2/2 * |sum_i (lon_{i+1} - lon_{i-1}) * sin(lat_i)|
# (radians, wraparound indices). The synthetic pentagon rings of
# polygon_centroid_general are mapped onto the globe (lat = y/2 - 30,
# lon = x/2), each vertex meets ONE lag and ONE lead window over the
# per-ring partition, and per-vertex trig terms are rounded to the
# 1e-12 lattice and summed in DECIMAL (the chi2 lockstep pattern) so
# a 5-term irrational sum cannot drift between engines. 100 TB: pure
# codegen trig over the vertex stream, one per-ring window shuffle —
# the same shape as the planar centroid plan.
_EARTH_R_KM = 6371.0088


@_q(
    "geodesic_polygon_area",
    f"""
    WITH polys AS (
      SELECT p_partkey AS poly_id,
             [CAST(p_partkey % 32 AS BIGINT), CAST(p_partkey % 32 + p_size AS BIGINT),
              CAST(p_partkey % 32 + p_size + p_partkey % 7 + 1 AS BIGINT),
              CAST(p_partkey % 32 + p_size AS BIGINT), CAST(p_partkey % 32 AS BIGINT)]
               AS xs,
             [CAST(p_partkey % 24 AS BIGINT), CAST(p_partkey % 24 AS BIGINT),
              CAST(p_partkey % 24 + p_size AS BIGINT),
              CAST(p_partkey % 24 + 2 * p_size AS BIGINT),
              CAST(p_partkey % 24 + 2 * p_size AS BIGINT)] AS ys
      FROM part
    ),
    verts AS (
      SELECT poly_id, t.i AS idx,
             radians(xs[CAST(t.i AS INT)] / 2.0) AS lon,
             radians(ys[CAST(t.i AS INT)] / 2.0 - 30.0) AS lat
      FROM polys JOIN range(1, 6) t(i) ON t.i <= 5
    ),
    terms AS (
      SELECT poly_id,
             CAST(round(
               (COALESCE(LEAD(lon) OVER w, FIRST_VALUE(lon) OVER w2)
                - COALESCE(LAG(lon) OVER w, LAST_VALUE(lon) OVER w2))
               * sin(lat), 12) AS DECIMAL(38,12)) AS term
      FROM verts
      WINDOW w AS (PARTITION BY poly_id ORDER BY idx),
             w2 AS (PARTITION BY poly_id ORDER BY idx
                    ROWS BETWEEN UNBOUNDED PRECEDING
                             AND UNBOUNDED FOLLOWING)
    )
    SELECT poly_id,
           round(abs(CAST(SUM(term) AS DOUBLE))
                 * {_EARTH_R_KM} * {_EARTH_R_KM} / 2.0, 3) AS area_km2
    FROM terms GROUP BY poly_id ORDER BY poly_id
    """,
)
def q_geodesic_polygon_area(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = t(spark, sf_dir, "part").select("p_partkey", "p_size")
    k, s = F.col("p_partkey"), F.col("p_size")
    x0 = (k % 32).cast("long")
    y0 = (k % 24).cast("long")
    polys = p.select(
        k.alias("poly_id"),
        F.array(x0, x0 + s, x0 + s + k % 7 + 1, x0 + s, x0).alias("xs"),
        F.array(y0, y0, y0 + s, y0 + 2 * s, y0 + 2 * s).alias("ys"),
    )
    verts = polys.select(
        "poly_id",
        F.posexplode(F.arrays_zip("xs", "ys")).alias("idx0", "v"),
    ).select(
        "poly_id",
        (F.col("idx0") + 1).alias("idx"),
        F.radians(F.col("v.xs") / 2.0).alias("lon"),
        F.radians(F.col("v.ys") / 2.0 - 30.0).alias("lat"),
    )
    w = Window.partitionBy("poly_id").orderBy("idx")
    w2 = (
        Window.partitionBy("poly_id")
        .orderBy("idx")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    term = F.round(
        (
            F.coalesce(F.lead("lon").over(w), F.first("lon").over(w2))
            - F.coalesce(F.lag("lon").over(w), F.last("lon").over(w2))
        )
        * F.sin("lat"),
        12,
    ).cast("decimal(38,12)")
    return (
        verts.select("poly_id", term.alias("term"))
        .groupBy("poly_id")
        .agg(
            F.round(
                F.abs(F.sum("term").cast("double"))
                * _EARTH_R_KM
                * _EARTH_R_KM
                / 2.0,
                3,
            ).alias("area_km2")
        )
        .orderBy("poly_id")
    )


# ---------------------------------------------------------------------------
# Epanechnikov kernel density hotspots — the KDE heat surface every
# GIS stack draws, EXACT: on the integer event lattice with
# bandwidth h = 8 the kernel numerator max(0, h^2 - d^2) is an
# INTEGER per pair, so density sums carry no float at all (the
# profile constant 3/(pi h^2) cancels in ranking). The plan is the
# Ripley discipline: aggregate to DISTINCT locations first
# (multiplicity m bounds all later work by the 256^2 domain, not
# event count), then grid-block candidates at cell = h with 3x3
# neighbor probes — never all-pairs. The oracle uses a direct
# +-(h-1) range join (DuckDB's IEJoin path — a DIFFERENT candidate
# decomposition), so the two engines cannot share a blocking bug. Output: top-20 density peaks.
_KDE_H2 = 64  # h = 8 px


def _sql_kde() -> str:
    return f"""
    WITH pts AS (
      SELECT CAST(event_id % 256 AS BIGINT) AS x,
             CAST(user_id * 7 % 256 AS BIGINT) AS y,
             CAST(COUNT(*) AS BIGINT) AS m
      FROM events GROUP BY 1, 2
    ),
    pairs AS (
      -- direct range join (DuckDB IEJoin): a DIFFERENT candidate
      -- decomposition from the Spark side's 8-px 3x3 blocking
      SELECT a.x, a.y, a.m AS ma, b.m AS mb,
             (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y) AS d2
      FROM pts a
      JOIN pts b
        ON b.x BETWEEN a.x - 7 AND a.x + 7
       AND b.y BETWEEN a.y - 7 AND a.y + 7
      WHERE (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y)
             < {_KDE_H2}
    )
    SELECT x, y,
           CAST(SUM(ma * mb * ({_KDE_H2} - d2)) AS BIGINT) AS density
    FROM pairs GROUP BY x, y
    ORDER BY density DESC, x, y LIMIT 20
    """


@_q("kde_epanechnikov_hotspots", _sql_kde())
def q_kde_epanechnikov_hotspots(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events")
    pts = ev.groupBy(
        (F.col("event_id") % 256).cast("bigint").alias("x"),
        (F.col("user_id") * 7 % 256).cast("bigint").alias("y"),
    ).agg(F.count(F.lit(1)).cast("bigint").alias("m"))
    blocked = pts.select(
        "x", "y", "m",
        F.floor(F.col("x") / 8).alias("bx"),
        F.floor(F.col("y") / 8).alias("by"),
    )
    # probe side replicated into its 9 neighbor blocks so the join is
    # a plain EQUI-join on the block key (a BETWEEN join would plan as
    # a nested loop — 55k x 55k at sf0.1)
    offs = pts.sparkSession.createDataFrame(
        [(dx, dy) for dx in (-1, 0, 1) for dy in (-1, 0, 1)], "dx int, dy int"
    )
    b = (
        blocked.crossJoin(F.broadcast(offs))
        .select(
            F.col("x").alias("qx"), F.col("y").alias("qy"),
            F.col("m").alias("mb"),
            (F.col("bx") + F.col("dx")).alias("qbx"),
            (F.col("by") + F.col("dy")).alias("qby"),
        )
    )
    d2 = (F.col("x") - F.col("qx")) * (F.col("x") - F.col("qx")) + (
        F.col("y") - F.col("qy")
    ) * (F.col("y") - F.col("qy"))
    pairs = blocked.join(
        b, (F.col("qbx") == F.col("bx")) & (F.col("qby") == F.col("by"))
    ).where(d2 < _KDE_H2)
    return (
        pairs.groupBy("x", "y")
        .agg(
            F.sum(F.col("m") * F.col("mb") * (_KDE_H2 - d2))
            .cast("bigint")
            .alias("density")
        )
        .orderBy(F.desc("density"), "x", "y")
        .limit(20)
    )


# ---------------------------------------------------------------------------
# Emerging hotspot analysis (the space-time-cube product): per 32-px
# spatial cell, the Mann-Kendall trend statistic S over the DAILY
# event-count series — S = sum over day pairs of sign(c_j - c_i),
# pure integer pair concordance (the kendall_tau_b machinery applied
# per cell over a calendar-bounded series) — classifying each cell
# as intensifying, diminishing or stable. Day pairs are bounded by
# the calendar (30ish days -> <=435 pairs/cell), cells by the 8x8
# lattice; the only row-volume pass is the (cell, day) rollup.
@_q(
    "emerging_hotspot_cells",
    """
    WITH cd AS (
      SELECT (CAST(event_id % 256 AS BIGINT)) // 32 AS cx,
             (CAST(user_id * 7 % 256 AS BIGINT)) // 32 AS cy,
             CAST(date_diff('day', DATE '2024-01-01', CAST(ts AS DATE))
                  AS BIGINT) AS d,
             CAST(COUNT(*) AS BIGINT) AS c
      FROM events GROUP BY 1, 2, 3
    ),
    nd AS (
      SELECT cx, cy, CAST(COUNT(*) AS BIGINT) AS n_days
      FROM cd GROUP BY cx, cy
    ),
    s AS (
      -- left join: the cell's LAST day has no later partner, and a
      -- single-day cell has no pairs at all — both must still count
      SELECT nd.cx, nd.cy, nd.n_days,
             CAST(COALESCE(SUM(CASE WHEN b.c > a.c THEN 1
                                    WHEN b.c < a.c THEN -1 END), 0)
                  AS BIGINT) AS s_stat
      FROM nd
      LEFT JOIN cd a ON a.cx = nd.cx AND a.cy = nd.cy
      LEFT JOIN cd b ON b.cx = a.cx AND b.cy = a.cy AND b.d > a.d
      GROUP BY nd.cx, nd.cy, nd.n_days
    )
    SELECT cx, cy, n_days, s_stat,
           CASE WHEN s_stat >= 20 THEN 'intensifying'
                WHEN s_stat <= -20 THEN 'diminishing'
                ELSE 'stable' END AS trend
    FROM s ORDER BY cx, cy
    """,
)
def q_emerging_hotspot_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events")
    cd = ev.groupBy(
        F.floor((F.col("event_id") % 256).cast("bigint") / 32).alias("cx"),
        F.floor((F.col("user_id") * 7 % 256).cast("bigint") / 32).alias("cy"),
        F.datediff(
            F.col("ts").cast("date"), F.lit("2024-01-01").cast("date")
        )
        .cast("bigint")
        .alias("d"),
    ).agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    b = cd.select(
        F.col("cx").alias("bcx"), F.col("cy").alias("bcy"),
        F.col("d").alias("bd"), F.col("c").alias("bc"),
    )
    nd = cd.groupBy("cx", "cy").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_days")
    )
    pair_s = (
        cd.join(
            b,
            (F.col("bcx") == F.col("cx"))
            & (F.col("bcy") == F.col("cy"))
            & (F.col("bd") > F.col("d")),
        )
        .groupBy("cx", "cy")
        .agg(
            F.sum(
                F.when(F.col("bc") > F.col("c"), 1)
                .when(F.col("bc") < F.col("c"), -1)
                .otherwise(0)
            )
            .cast("bigint")
            .alias("s_raw")
        )
    )
    # left join: last-day rows have no later partner, single-day
    # cells no pairs at all — both still count
    s = nd.join(pair_s, ["cx", "cy"], "left").select(
        "cx",
        "cy",
        "n_days",
        F.coalesce(F.col("s_raw"), F.lit(0)).cast("bigint").alias("s_stat"),
    )
    return s.select(
        "cx",
        "cy",
        "n_days",
        "s_stat",
        F.when(F.col("s_stat") >= 20, "intensifying")
        .when(F.col("s_stat") <= -20, "diminishing")
        .otherwise("stable")
        .alias("trend"),
    ).orderBy("cx", "cy")


# ---------------------------------------------------------------------------
# Two-step floating catchment area (2SFCA, Luo & Wang 2003) — the
# standard spatial-accessibility measure ("how much supply can each
# demand point actually reach"): step 1 gives every supply site a
# ratio R_j = capacity_j / (demand within radius d0); step 2 sums
# each demand point's reachable R_j. Suppliers (capacity = supplier
# count per cell) and customers (demand weight = customer count per
# cell) live on the same synthetic lattice as the point tier; both
# steps are the SAME bounded catchment join (Chebyshev d0 = 6 px),
# blocked by the 9-offset equi-join discipline on the Spark side and
# a direct range join in the oracle. Exactness: R_j is one rational
# per site (integer counts), accessibility sums round(12)-then-
# decimal (the chi2 pattern). Output: the 20 best-served demand
# cells.
_SFCA_D0 = 6


def _sql_sfca() -> str:
    return f"""
    WITH supply AS (
      SELECT CAST(s_suppkey * 11 % 64 AS BIGINT) AS x,
             CAST(s_suppkey * 5 % 64 AS BIGINT) AS y,
             CAST(COUNT(*) AS BIGINT) AS cap
      FROM supplier GROUP BY 1, 2
    ),
    demand AS (
      SELECT CAST(c_custkey % 64 AS BIGINT) AS x,
             CAST(c_custkey * 3 % 64 AS BIGINT) AS y,
             CAST(COUNT(*) AS BIGINT) AS pop
      FROM customer GROUP BY 1, 2
    ),
    ratio AS (
      SELECT s.x, s.y,
             s.cap / CAST(SUM(d.pop) AS DOUBLE) AS r
      FROM supply s JOIN demand d
        ON d.x BETWEEN s.x - {_SFCA_D0} AND s.x + {_SFCA_D0}
       AND d.y BETWEEN s.y - {_SFCA_D0} AND s.y + {_SFCA_D0}
      GROUP BY s.x, s.y, s.cap
    )
    SELECT d.x, d.y, CAST(MAX(d.pop) AS BIGINT) AS pop,
           round(CAST(SUM(CAST(round(r.r, 12) AS DECIMAL(38,12)))
                      AS DOUBLE), 9) AS accessibility
    FROM demand d JOIN ratio r
      ON r.x BETWEEN d.x - {_SFCA_D0} AND d.x + {_SFCA_D0}
     AND r.y BETWEEN d.y - {_SFCA_D0} AND d.y + {_SFCA_D0}
    GROUP BY d.x, d.y
    ORDER BY accessibility DESC, d.x, d.y LIMIT 20
    """


@_q("sfca_accessibility", _sql_sfca())
def q_sfca_accessibility(spark: SparkSession, sf_dir: str) -> DataFrame:
    sup = t(spark, sf_dir, "supplier")
    cust = t(spark, sf_dir, "customer")
    supply = sup.groupBy(
        (F.col("s_suppkey") * 11 % 64).cast("bigint").alias("sx"),
        (F.col("s_suppkey") * 5 % 64).cast("bigint").alias("sy"),
    ).agg(F.count(F.lit(1)).cast("bigint").alias("cap"))
    demand = cust.groupBy(
        (F.col("c_custkey") % 64).cast("bigint").alias("dx"),
        (F.col("c_custkey") * 3 % 64).cast("bigint").alias("dy"),
    ).agg(F.count(F.lit(1)).cast("bigint").alias("pop"))
    # 9-offset equi-join blocking at cell = d0 covers Chebyshev d0
    offs = sup.sparkSession.createDataFrame(
        [(a, b) for a in (-1, 0, 1) for b in (-1, 0, 1)], "ox int, oy int"
    )

    def blocked(df, xc, yc):
        return df.withColumn("bx", F.floor(F.col(xc) / _SFCA_D0)).withColumn(
            "by", F.floor(F.col(yc) / _SFCA_D0)
        )

    s_b = blocked(supply, "sx", "sy")
    d_b = blocked(demand, "dx", "dy").crossJoin(F.broadcast(offs)).select(
        "dx", "dy", "pop",
        (F.col("bx") + F.col("ox")).alias("bx"),
        (F.col("by") + F.col("oy")).alias("by"),
    )
    within = (
        (F.abs(F.col("dx") - F.col("sx")) <= _SFCA_D0)
        & (F.abs(F.col("dy") - F.col("sy")) <= _SFCA_D0)
    )
    ratio = (
        s_b.join(d_b, ["bx", "by"])
        .where(within)
        .groupBy("sx", "sy", "cap")
        .agg(F.sum("pop").alias("reach_pop"))
        .select(
            "sx", "sy",
            (F.col("cap") / F.col("reach_pop").cast("double")).alias("r"),
        )
    )
    r_b = blocked(ratio, "sx", "sy").crossJoin(F.broadcast(offs)).select(
        "sx", "sy", "r",
        (F.col("bx") + F.col("ox")).alias("bx"),
        (F.col("by") + F.col("oy")).alias("by"),
    )
    acc = (
        blocked(demand, "dx", "dy")
        .join(r_b, ["bx", "by"])
        .where(within)
        .groupBy("dx", "dy")
        .agg(
            F.max("pop").cast("bigint").alias("pop"),
            F.round(
                F.sum(F.round(F.col("r"), 12).cast("decimal(38,12)")).cast(
                    "double"
                ),
                9,
            ).alias("accessibility"),
        )
    )
    return (
        acc.select(
            F.col("dx").alias("x"), F.col("dy").alias("y"), "pop",
            "accessibility",
        )
        .orderBy(F.desc("accessibility"), "x", "y")
        .limit(20)
    )


# ---------------------------------------------------------------------------
# Gravity model of spatial interaction (Wilson 1971): consecutive
# events of a user are a TRIP between 16-px cells; with masses m_i
# (origin outflow) and n_j (destination inflow), the calibrated
# model is ln(T_ij / (m_i n_j)) = k - c ln(d_ij) — one closed-form
# log-log regression whose deterrence exponent c is THE quantity
# geographers fit. Flows aggregate once (the only row-volume pass);
# the regression runs over the bounded (origin, destination) cell-
# pair table with every log term on the 1e-12 lattice and decimal
# sufficient statistics (the lockstep closed-form recipe). Same-cell
# trips (d = 0) are excluded, as in every published calibration.
@_q(
    "gravity_model_calibration",
    """
    WITH seq AS (
      SELECT user_id,
             (CAST(event_id % 256 AS BIGINT)) // 16 AS cx,
             (CAST(user_id * 7 % 256 AS BIGINT) + event_id % 16) // 16 AS cy,
             row_number() OVER (PARTITION BY user_id ORDER BY event_id) AS rn
      FROM events
    ),
    trips AS (
      SELECT a.cx AS ox, a.cy AS oy, b.cx AS dx, b.cy AS dy,
             CAST(COUNT(*) AS BIGINT) AS t
      FROM seq a JOIN seq b ON b.user_id = a.user_id AND b.rn = a.rn + 1
      WHERE NOT (a.cx = b.cx AND a.cy = b.cy)
      GROUP BY 1, 2, 3, 4
    ),
    mass_o AS (SELECT ox, oy, CAST(SUM(t) AS BIGINT) AS m
               FROM trips GROUP BY ox, oy),
    mass_d AS (SELECT dx, dy, CAST(SUM(t) AS BIGINT) AS n
               FROM trips GROUP BY dx, dy),
    obs AS (
      SELECT ln(CAST((t.ox - t.dx) * (t.ox - t.dx)
                     + (t.oy - t.dy) * (t.oy - t.dy) AS DOUBLE)) / 2 AS lx,
             ln(CAST(t.t AS DOUBLE) / (CAST(o.m AS DOUBLE) * n.n)) AS ly
      FROM trips t JOIN mass_o o ON o.ox = t.ox AND o.oy = t.oy
                   JOIN mass_d n ON n.dx = t.dx AND n.dy = t.dy
    ),
    mom AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS nn,
             CAST(SUM(CAST(round(lx, 12) AS DECIMAL(38,12))) AS DOUBLE) AS sx,
             CAST(SUM(CAST(round(lx * lx, 12) AS DECIMAL(38,12)))
                  AS DOUBLE) AS sxx,
             CAST(SUM(CAST(round(ly, 12) AS DECIMAL(38,12))) AS DOUBLE) AS sy,
             CAST(SUM(CAST(round(lx * ly, 12) AS DECIMAL(38,12)))
                  AS DOUBLE) AS sxy
      FROM obs
    )
    SELECT nn AS n_flows,
           round((nn * sxy - sx * sy) / (nn * sxx - sx * sx) * -1, 6)
             AS deterrence_c,
           round((sy - (nn * sxy - sx * sy) / (nn * sxx - sx * sx) * sx)
                 / nn, 6) AS log_k
    FROM mom
    """,
)
def q_gravity_model_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("event_id")
    seq = ev.select(
        "user_id",
        F.floor((F.col("event_id") % 256).cast("bigint") / 16).alias("cx"),
        F.floor(
            ((F.col("user_id") * 7 % 256).cast("bigint") + F.col("event_id") % 16)
            / 16
        ).alias("cy"),
        F.row_number().over(w).alias("rn"),
    )
    b = seq.select(
        F.col("user_id").alias("bu"), F.col("cx").alias("bcx"),
        F.col("cy").alias("bcy"), F.col("rn").alias("brn"),
    )
    trips = (
        seq.join(
            b,
            (F.col("bu") == F.col("user_id")) & (F.col("brn") == F.col("rn") + 1),
        )
        .where(~((F.col("cx") == F.col("bcx")) & (F.col("cy") == F.col("bcy"))))
        .groupBy(
            F.col("cx").alias("ox"), F.col("cy").alias("oy"),
            F.col("bcx").alias("dx"), F.col("bcy").alias("dy"),
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("t"))
        .localCheckpoint(eager=True)
    )
    mo = trips.groupBy("ox", "oy").agg(F.sum("t").cast("bigint").alias("m"))
    md = trips.groupBy("dx", "dy").agg(F.sum("t").cast("bigint").alias("n"))
    obs = (
        trips.join(mo, ["ox", "oy"])
        .join(md, ["dx", "dy"])
        .select(
            (
                F.log(
                    (
                        (F.col("ox") - F.col("dx")) * (F.col("ox") - F.col("dx"))
                        + (F.col("oy") - F.col("dy"))
                        * (F.col("oy") - F.col("dy"))
                    ).cast("double")
                )
                / 2
            ).alias("lx"),
            F.log(
                F.col("t").cast("double")
                / (F.col("m").cast("double") * F.col("n"))
            ).alias("ly"),
        )
    )
    d12 = lambda c: F.round(c, 12).cast("decimal(38,12)")  # noqa: E731
    mom = obs.agg(
        F.count(F.lit(1)).cast("bigint").alias("nn"),
        F.sum(d12(F.col("lx"))).cast("double").alias("sx"),
        F.sum(d12(F.col("lx") * F.col("lx"))).cast("double").alias("sxx"),
        F.sum(d12(F.col("ly"))).cast("double").alias("sy"),
        F.sum(d12(F.col("lx") * F.col("ly"))).cast("double").alias("sxy"),
    )
    slope = (F.col("nn") * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        F.col("nn") * F.col("sxx") - F.col("sx") * F.col("sx")
    )
    return mom.select(
        F.col("nn").alias("n_flows"),
        F.round(slope * -1, 6).alias("deterrence_c"),
        F.round((F.col("sy") - slope * F.col("sx")) / F.col("nn"), 6).alias(
            "log_k"
        ),
    )


# ---------------------------------------------------------------------------
# Geometric median via smoothed Weiszfeld iteration (Weiszfeld 1937;
# the L1 facility-location center that the mean cannot give): 5 fixed
# sweeps of x' = Σ(m·p/d)/Σ(m/d) over the DEDUPED customer lattice
# (px, py, multiplicity m), d = sqrt(|x−p|² + 1e-9) (the epsilon
# smoothing removes the lattice-hit singularity, documented).
# Lockstep contract: per-site weight terms are round(12)-latticed and
# DECIMAL-summed, the scalar (x, y) update is round(12)-ed through
# Spark ROUND on a 1-row select (EM/Cox discipline); the twin unrolls
# the same five sweeps as correlated scalar CTEs. Init = exact-ratio
# centroid. 100 TB: the dedup bounds every sweep at the lattice
# domain (≤1200 sites); the only row-volume pass is the groupBy.
_WEISZFELD_SWEEPS = 5


def _sql_weiszfeld() -> str:
    ctes = [
        """pts AS MATERIALIZED (
      SELECT CAST(c_custkey % 40 AS BIGINT) AS px,
             CAST(c_custkey % 30 AS BIGINT) AS py,
             CAST(COUNT(*) AS BIGINT) AS m
      FROM customer GROUP BY 1, 2
    ),
    c0 AS (
      SELECT round(CAST(SUM(m * px) AS DOUBLE) / SUM(m), 12) AS x,
             round(CAST(SUM(m * py) AS DOUBLE) / SUM(m), 12) AS y
      FROM pts
    )"""
    ]
    for k in range(_WEISZFELD_SWEEPS):
        d = (
            f"sqrt((c{k}.x - px) * (c{k}.x - px)"
            f" + (c{k}.y - py) * (c{k}.y - py) + 1e-9)"
        )
        ctes.append(
            f"""s{k} AS (
      SELECT CAST(SUM(CAST(round(m * px / {d}, 12)
                           AS DECIMAL(38,12))) AS DOUBLE) AS sx,
             CAST(SUM(CAST(round(m * py / {d}, 12)
                           AS DECIMAL(38,12))) AS DOUBLE) AS sy,
             CAST(SUM(CAST(round(m / {d}, 12)
                           AS DECIMAL(38,12))) AS DOUBLE) AS sw
      FROM pts CROSS JOIN c{k}
    ),
    c{k + 1} AS (
      SELECT round(sx / sw, 12) AS x, round(sy / sw, 12) AS y FROM s{k}
    )"""
        )
    return (
        "WITH "
        + ",\n    ".join(ctes)
        + f"""
    SELECT (SELECT CAST(SUM(m) AS BIGINT) FROM pts) AS n_customers,
           round(x, 6) AS median_x, round(y, 6) AS median_y
    FROM c{_WEISZFELD_SWEEPS}
    """
    )


@_q("geometric_median_weiszfeld", _sql_weiszfeld())
def q_geometric_median_weiszfeld(spark: SparkSession, sf_dir: str) -> DataFrame:
    cu = t(spark, sf_dir, "customer")
    pts = (
        cu.groupBy(
            (F.col("c_custkey") % 40).cast("bigint").alias("px"),
            (F.col("c_custkey") % 30).cast("bigint").alias("py"),
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("m"))
        .localCheckpoint(eager=True)  # bounded lattice, reused per sweep
    )

    def jround(*exprs: object) -> list[float]:
        row = (
            pts.sparkSession.range(1)
            .select(
                *[
                    F.round(F.lit(e).cast("double"), 12).alias(f"c{i}")
                    for i, e in enumerate(exprs)
                ]
            )
            .collect()[0]
        )
        return [row[f"c{i}"] for i in range(len(exprs))]

    c = pts.agg(
        F.sum(F.col("m") * F.col("px")).alias("sx"),
        F.sum(F.col("m") * F.col("py")).alias("sy"),
        F.sum("m").alias("sm"),
    ).collect()[0]
    n_customers = int(c["sm"])
    x, y = jround(
        float(c["sx"]) / float(c["sm"]), float(c["sy"]) / float(c["sm"])
    )
    for _ in range(_WEISZFELD_SWEEPS):
        d = F.sqrt(
            (F.lit(x) - F.col("px")) * (F.lit(x) - F.col("px"))
            + (F.lit(y) - F.col("py")) * (F.lit(y) - F.col("py"))
            + F.lit(1e-9)
        )
        s = pts.agg(
            F.sum(
                F.round(F.col("m") * F.col("px") / d, 12).cast(
                    "decimal(38,12)"
                )
            )
            .cast("double")
            .alias("sx"),
            F.sum(
                F.round(F.col("m") * F.col("py") / d, 12).cast(
                    "decimal(38,12)"
                )
            )
            .cast("double")
            .alias("sy"),
            F.sum(F.round(F.col("m") / d, 12).cast("decimal(38,12)"))
            .cast("double")
            .alias("sw"),
        ).collect()[0]
        x, y = jround(
            float(s["sx"]) / float(s["sw"]), float(s["sy"]) / float(s["sw"])
        )
    return pts.sparkSession.range(1).select(
        F.lit(n_customers).cast("bigint").alias("n_customers"),
        F.round(F.lit(x), 6).alias("median_x"),
        F.round(F.lit(y), 6).alias("median_y"),
    )


# ---------------------------------------------------------------------------
# Convex-hull WIDTH (rotating-calipers identity) per nation — the
# minimum distance between parallel supporting lines, i.e. the
# narrowest corridor the point cloud fits through; complements
# convex_hull_metrics' diameter. Calipers reduce to a closed form on
# the hull cycle: width = min over hull EDGES of (max over points of
# |cross(b−a, p−a)|) / |b−a|. Cross products are exact lattice
# integers (the hull kernel vs maximal-edge-identity pairing is the
# convex_hull_metrics seam); each edge's width is ONE double
# expression from two exact integers, so the min is deterministic.
# 100 TB: dedup bounds the per-nation point set at the lattice domain
# (<=1200), the edge x point join is domain x domain.
@_q(
    "hull_width_calipers",
    """
    WITH pts AS (
      SELECT DISTINCT CAST(c_nationkey AS BIGINT) AS nation,
             CAST(c_custkey % 40 AS BIGINT) AS px,
             CAST(c_custkey % 30 AS BIGINT) AS py
      FROM customer
    ),
    edges AS (
      SELECT a.nation, a.px AS ax, a.py AS ay, b.px AS bx, b.py AS by
      FROM pts a JOIN pts b
        ON a.nation = b.nation AND (a.px <> b.px OR a.py <> b.py)
      WHERE NOT EXISTS (
        SELECT 1 FROM pts p
        WHERE p.nation = a.nation
          AND NOT (p.px = a.px AND p.py = a.py)
          AND NOT (p.px = b.px AND p.py = b.py)
          AND (
            (b.px - a.px) * (p.py - a.py)
              - (b.py - a.py) * (p.px - a.px) < 0
            OR (
              (b.px - a.px) * (p.py - a.py)
                - (b.py - a.py) * (p.px - a.px) = 0
              AND NOT (
                (p.px - a.px) * (b.px - a.px)
                  + (p.py - a.py) * (b.py - a.py) > 0
                AND (p.px - a.px) * (b.px - a.px)
                      + (p.py - a.py) * (b.py - a.py)
                    < (b.px - a.px) * (b.px - a.px)
                      + (b.py - a.py) * (b.py - a.py)
              )
            )
          )
      )
    ),
    support AS (
      SELECT e.nation, e.ax, e.ay, e.bx, e.by,
             MAX(abs((e.bx - e.ax) * (p.py - e.ay)
                     - (e.by - e.ay) * (p.px - e.ax))) AS maxcross,
             (e.bx - e.ax) * (e.bx - e.ax)
               + (e.by - e.ay) * (e.by - e.ay) AS len2
      FROM edges e JOIN pts p ON p.nation = e.nation
      GROUP BY e.nation, e.ax, e.ay, e.bx, e.by
    )
    SELECT nation,
           CAST(COUNT(*) AS BIGINT) AS n_hull_edges,
           round(MIN(CAST(maxcross AS DOUBLE)
                     / sqrt(CAST(len2 AS DOUBLE))), 6) AS hull_width
    FROM support GROUP BY nation ORDER BY nation
    """,
)
def q_hull_width_calipers(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pandas as pd

    cust = t(spark, sf_dir, "customer")
    pts = cust.select(
        F.col("c_nationkey").cast("bigint").alias("nation"),
        (F.col("c_custkey") % 40).cast("bigint").alias("px"),
        (F.col("c_custkey") % 30).cast("bigint").alias("py"),
    ).distinct().localCheckpoint(eager=True)  # hull kernel + support join

    def hull_fn(key, pdf: "pd.DataFrame") -> "pd.DataFrame":
        import numpy as np

        from ..functions.geometry import _convex_hull

        arr = np.unique(pdf[["px", "py"]].to_numpy(dtype=np.float64), axis=0)
        h = _convex_hull(arr)
        return pd.DataFrame(
            {
                "nation": key[0],
                "seq": range(len(h)),
                "hx": h[:, 0].astype("int64"),
                "hy": h[:, 1].astype("int64"),
            }
        )

    hulls = pts.groupBy("nation").applyInPandas(
        hull_fn, "nation bigint, seq int, hx bigint, hy bigint"
    )
    w = Window.partitionBy("nation").orderBy("seq")
    w_all = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    edges = hulls.select(
        "nation",
        F.col("hx").alias("ax"),
        F.col("hy").alias("ay"),
        F.coalesce(F.lead("hx").over(w), F.first("hx").over(w_all)).alias("bx"),
        F.coalesce(F.lead("hy").over(w), F.first("hy").over(w_all)).alias("by"),
    )
    pb = pts.select(
        F.col("nation").alias("pn"),
        F.col("px"),
        F.col("py"),
    )
    cross = F.abs(
        (F.col("bx") - F.col("ax")) * (F.col("py") - F.col("ay"))
        - (F.col("by") - F.col("ay")) * (F.col("px") - F.col("ax"))
    )
    support = (
        edges.join(pb, F.col("pn") == F.col("nation"))
        .groupBy("nation", "ax", "ay", "bx", "by")
        .agg(F.max(cross).alias("maxcross"))
        .withColumn(
            "len2",
            (F.col("bx") - F.col("ax")) * (F.col("bx") - F.col("ax"))
            + (F.col("by") - F.col("ay")) * (F.col("by") - F.col("ay")),
        )
    )
    return (
        support.groupBy("nation")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_hull_edges"),
            F.round(
                F.min(
                    F.col("maxcross").cast("double")
                    / F.sqrt(F.col("len2").cast("double"))
                ),
                6,
            ).alias("hull_width"),
        )
        .orderBy("nation")
    )
