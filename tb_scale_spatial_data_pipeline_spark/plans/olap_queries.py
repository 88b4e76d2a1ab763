"""OLAP grouping-analytics batch: ROLLUP / CUBE / GROUPING SETS parity
plus the recursive BOM-explosion shape and a window tie audit.

SURVEY §2.3 names grouping sets / cube / rollup as the "free in Spark"
aggregation family absent from the reference (the reference aggregates
one grouping at a time — e.g. the per-pixel composite loops of
0_preprocessing/feature_stacking.py:106-167 — where a warehouse engine
computes every margin in one pass); this module gives that family
first-class oracle-paired coverage.

Cross-engine determinism notes specific to this family:

- ``grouping_id()`` conventions AGREE between engines: Spark
  ``grouping_id(a, b)`` and DuckDB ``GROUPING(a, b)`` both emit the
  bitmask with ``a`` as the most significant bit (verified: rollup
  emits {0, 1, 3}, cube {0, 1, 2, 3}). Cast to BIGINT on both sides.
- Super-aggregate rows carry NULL group keys; both the Spark result
  and the oracle COALESCE them to an out-of-domain sentinel ('ALL' /
  -1) so row canonicalization never compares bare NULL keys, and the
  grouping id keeps sentinel collisions impossible.
- All measures are exact DECIMAL sums cast to double at the end (the
  repo-wide convention) — margins are sums over disjoint leaf groups,
  so partial-order independence matters twice here.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators.spread import counted_checkpoint
from ._util import _dec, sql_davg, sql_dsum, t, registry

QUERIES, ORACLES, _q = registry()


# ---------------------------------------------------------------------------
# ROLLUP over the pricing-summary dimensions: leaf groups plus the
# per-returnflag margin plus the grand total, one pass. The Spark plan
# is a single Expand + hash aggregate — the expand duplicates each
# input row once per grouping set BUT map-side partial aggregation
# collapses them before the (one) shuffle, so the 100 TB cost is the
# same single shuffle as the plain groupBy, carrying |leaf groups| x
# |sets| states instead of |rows| x |sets| rows.
@_q(
    "rollup_revenue_margins",
    f"""
    SELECT coalesce(l_returnflag, 'ALL') AS rf,
           coalesce(l_linestatus, 'ALL') AS ls,
           CAST(GROUPING(l_returnflag, l_linestatus) AS BIGINT) AS gid,
           COUNT(*) AS n,
           {sql_dsum('l_quantity')} AS sum_qty,
           {sql_dsum('l_extendedprice * (1 - l_discount)', 4)} AS revenue
    FROM lineitem
    GROUP BY ROLLUP(l_returnflag, l_linestatus)
    ORDER BY gid, rf, ls
    """,
)
def q_rollup_revenue_margins(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.spread import spread_cpu

    # the Expand (x3 grouping sets) + decimal partial aggregation is
    # CPU-dense and fuses into the single-split scan task (census: 3.4
    # exec-sec serial); spread first — conditional, no-op at production
    # split counts where partial-agg-before-shuffle wins
    li = spread_cpu(
        t(spark, sf_dir, "lineitem").select(
            "l_returnflag", "l_linestatus", "l_quantity",
            "l_extendedprice", "l_discount",
        )
    )
    rev = (_dec("l_extendedprice") * (1 - _dec("l_discount"))).cast(
        "decimal(18,4)"
    )
    return (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(
            F.grouping_id().cast("bigint").alias("gid"),
            F.count(F.lit(1)).alias("n"),
            F.sum(_dec("l_quantity")).cast("double").alias("sum_qty"),
            F.sum(rev).cast("double").alias("revenue"),
        )
        .select(
            F.coalesce("l_returnflag", F.lit("ALL")).alias("rf"),
            F.coalesce("l_linestatus", F.lit("ALL")).alias("ls"),
            "gid",
            "n",
            "sum_qty",
            "revenue",
        )
        .orderBy("gid", "rf", "ls")
    )


# ---------------------------------------------------------------------------
# CUBE over order priority x status: all four margins (leaf, each
# single-dimension rollup, grand total). Same Expand + single-shuffle
# plan as ROLLUP — the extra grouping sets cost aggregate STATES, not
# input passes; the dashboard query that would otherwise run 4 scans.
@_q(
    "cube_priority_status",
    f"""
    SELECT coalesce(o_orderpriority, 'ALL') AS pri,
           coalesce(o_orderstatus, 'ALL') AS st,
           CAST(GROUPING(o_orderpriority, o_orderstatus) AS BIGINT) AS gid,
           COUNT(*) AS n_orders,
           {sql_dsum('o_totalprice')} AS total_price,
           {sql_davg('o_totalprice')} AS avg_price
    FROM orders
    GROUP BY CUBE(o_orderpriority, o_orderstatus)
    ORDER BY gid, pri, st
    """,
)
def q_cube_priority_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = t(spark, sf_dir, "orders")
    return (
        o.cube("o_orderpriority", "o_orderstatus")
        .agg(
            F.grouping_id().cast("bigint").alias("gid"),
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(_dec("o_totalprice")).cast("double").alias("total_price"),
            (
                F.sum(_dec("o_totalprice")).cast("double")
                / F.count(F.col("o_totalprice"))
            ).alias("avg_price"),
        )
        .select(
            F.coalesce("o_orderpriority", F.lit("ALL")).alias("pri"),
            F.coalesce("o_orderstatus", F.lit("ALL")).alias("st"),
            "gid",
            "n_orders",
            "total_price",
            "avg_price",
        )
        .orderBy("gid", "pri", "st")
    )


# ---------------------------------------------------------------------------
# Explicit GROUPING SETS with heterogeneous sets — the report shape
# CUBE can't express (brand totals, type totals, brand x size detail,
# grand total; but NOT type x size). Spark exposes this through SQL
# (GROUP BY GROUPING SETS), the one grouping surface the DataFrame API
# lacks; the plan is the same Expand + single hash aggregate.
@_q(
    "grouping_sets_report",
    f"""
    SELECT coalesce(p_brand, 'ALL') AS brand,
           coalesce(p_type, 'ALL') AS ptype,
           coalesce(p_size, -1) AS psize,
           CAST(GROUPING(p_brand, p_type, p_size) AS BIGINT) AS gid,
           COUNT(*) AS n_parts,
           {sql_davg('p_retailprice')} AS avg_price
    FROM part
    GROUP BY GROUPING SETS ((p_brand), (p_type), (p_brand, p_size), ())
    ORDER BY gid, brand, ptype, psize
    """,
)
def q_grouping_sets_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = t(spark, sf_dir, "part")
    part.createOrReplaceTempView("olap_part_v")
    return spark.sql(
        """
        SELECT coalesce(p_brand, 'ALL') AS brand,
               coalesce(p_type, 'ALL') AS ptype,
               coalesce(p_size, -1) AS psize,
               CAST(grouping_id(p_brand, p_type, p_size) AS BIGINT) AS gid,
               COUNT(*) AS n_parts,
               CAST(SUM(CAST(p_retailprice AS DECIMAL(18,2))) AS DOUBLE)
                 / COUNT(p_retailprice) AS avg_price
        FROM olap_part_v
        GROUP BY GROUPING SETS ((p_brand), (p_type), (p_brand, p_size), ())
        ORDER BY gid, brand, ptype, psize
        """
    )


# ---------------------------------------------------------------------------
# Recursive BOM explosion — the WITH RECURSIVE shape warehouses use
# for bill-of-materials / org-chart expansion. Containment is
# synthesized from partkey arithmetic (the binary heap order: part p
# contains parts 2p and 2p+1, per-edge quantity (child % 5) + 1), so
# the component graph is a forest-free single tree with depth
# ceil(log2 N) and every (assembly, component) pair has exactly ONE
# path — path quantity products are exact BIGINTs and no distinct()
# is ever needed.
#
# Spark has no recursive CTE; the explosion runs as a WAVEFRONT loop
# (`_bom_levels`: one equi-join frontier->edges per level, lineage
# truncated by a checkpoint whose job also counts the level, so the
# driver sees only that count). Wavefront, NOT pointer doubling
# (contrast operators/graphs.functional_closure): out-degree here is
# 2, so doubling would square the intermediate pair count for no
# round savings at depth ~log2 N — doubling wins on deep CHAINS,
# wavefronts win on shallow bushy TREES; the depth is the log of the
# table size, 11 rounds at sf0.01.
#
# Output is the per-(root, depth) aggregate (counts + exact quantity
# sums) — bounded at 4 roots x depth rows regardless of scale.
_BOM_ROOTS = (1, 2, 3, 4)
_BOM_MAX_DEPTH = 64  # cycle guard: containment must be acyclic


def _bom_edges(spark: SparkSession, sf_dir: str, modulus: int) -> DataFrame:
    """The synthesized BOM tree, (parent, child, w) with part p
    containing 2p and 2p+1 and edge weight w = child % modulus + 1;
    checkpointed, as every wavefront level reads it."""
    part = t(spark, sf_dir, "part")
    maxpk = part.agg(F.max("p_partkey")).collect()[0][0]  # one scalar
    child = F.explode(
        F.array(F.col("p_partkey") * 2, F.col("p_partkey") * 2 + 1)
    ).alias("child")
    return (
        part.select(F.col("p_partkey").alias("parent"), child)
        .where(F.col("child") <= maxpk)
        .withColumn("w", F.col("child") % modulus + 1)
        .localCheckpoint(eager=True)
    )


def _bom_levels(
    edges: DataFrame,
    col: str,
    seed: int,
    step: Callable[[Column, Column], Column],
    what: str,
) -> DataFrame:
    """Wavefront walk of the `_bom_edges` tree from every `_BOM_ROOTS`
    root: (root, node, col, depth) for every node at depth 0..63, where
    `col` starts at `seed` on the roots and each edge carries it as
    step(parent's col, edge w). Each level is one checkpoint job that
    also counts it (`counted_checkpoint`); the walk ends at the first
    empty level, and a non-empty level at depth 64 raises (a cycle)."""
    frontier = edges.sparkSession.createDataFrame(
        [(r, r, seed, 0) for r in _BOM_ROOTS],
        f"root bigint, node bigint, {col} bigint, depth int",
    )
    levels = frontier
    for _ in range(_BOM_MAX_DEPTH):
        frontier, rows = counted_checkpoint(
            frontier.join(edges, frontier.node == edges.parent).select(
                "root",
                F.col("child").alias("node"),
                step(frontier[col], edges.w).alias(col),
                (F.col("depth") + 1).alias("depth"),
            )
        )
        if rows == 0:
            return levels
        levels = levels.unionByName(frontier)
    raise RuntimeError(f"{what} exceeded depth {_BOM_MAX_DEPTH} — cycle?")


def _sql_bom() -> str:
    roots = ", ".join(f"({r})" for r in _BOM_ROOTS)
    return f"""
    WITH RECURSIVE mx AS (SELECT MAX(p_partkey) AS m FROM part),
    edges AS (
      SELECT p_partkey AS parent, p_partkey * 2 AS child,
             (p_partkey * 2) % 5 + 1 AS qty
      FROM part, mx WHERE p_partkey * 2 <= mx.m
      UNION ALL
      SELECT p_partkey, p_partkey * 2 + 1, (p_partkey * 2 + 1) % 5 + 1
      FROM part, mx WHERE p_partkey * 2 + 1 <= mx.m
    ),
    bom(root, node, qty, depth) AS (
      SELECT root, root, CAST(1 AS BIGINT), 0
      FROM (VALUES {roots}) AS r(root)
      UNION ALL
      SELECT b.root, e.child, b.qty * e.qty, b.depth + 1
      FROM bom b JOIN edges e ON e.parent = b.node
    )
    SELECT CAST(root AS BIGINT) AS root, CAST(depth AS INTEGER) AS depth,
           COUNT(*) AS n_components,
           CAST(SUM(qty) AS BIGINT) AS total_qty,
           CAST(MAX(qty) AS BIGINT) AS max_path_qty
    FROM bom WHERE depth > 0
    GROUP BY root, depth ORDER BY root, depth
    """


@_q("recursive_bom_explosion", _sql_bom())
def q_recursive_bom_explosion(spark: SparkSession, sf_dir: str) -> DataFrame:
    allp = _bom_levels(
        _bom_edges(spark, sf_dir, 5),
        "qty",
        1,
        lambda qty, w: qty * w,
        "BOM explosion",
    )
    return (
        allp.where(F.col("depth") > 0)
        .groupBy("root", "depth")
        .agg(
            F.count(F.lit(1)).alias("n_components"),
            F.sum("qty").cast("bigint").alias("total_qty"),
            F.max("qty").cast("bigint").alias("max_path_qty"),
        )
        .select(
            F.col("root").cast("bigint").alias("root"),
            F.col("depth").cast("int").alias("depth"),
            "n_components",
            "total_qty",
            "max_path_qty",
        )
        .orderBy("root", "depth")
    )


# ---------------------------------------------------------------------------
# percent_rank tie audit: rank-based normalization (the feature-prep
# step before quantile binning) is only reproducible if ties resolve
# identically — percent_rank = (rank-1)/(n-1) assigns every tied row
# the SAME value in both engines, so the per-brand audit (tie-group
# count, largest tie, mean percent_rank of tie members) hash-checks
# exactly. One window + one groupBy; (n-1) division is the only float
# and is round()ed on both sides.
@_q(
    "percent_rank_tie_audit",
    """
    WITH r AS (
      SELECT p_brand, p_retailprice,
             percent_rank() OVER (PARTITION BY p_brand
                                  ORDER BY p_retailprice) AS pr,
             COUNT(*) OVER (PARTITION BY p_brand, p_retailprice) AS tie_n
      FROM part
    )
    SELECT p_brand,
           COUNT(*) AS n_parts,
           COUNT(DISTINCT p_retailprice) AS n_prices,
           CAST(COUNT(DISTINCT CASE WHEN tie_n > 1 THEN p_retailprice END)
                AS BIGINT) AS n_tie_groups,
           CAST(MAX(tie_n) AS BIGINT) AS max_tie,
           round(AVG(CASE WHEN tie_n > 1 THEN pr END), 6) AS avg_tied_pr
    FROM r GROUP BY p_brand ORDER BY p_brand
    """,
)
def q_percent_rank_tie_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    part = t(spark, sf_dir, "part")
    w = Window.partitionBy("p_brand").orderBy("p_retailprice")
    wt = Window.partitionBy("p_brand", "p_retailprice")
    r = part.select(
        "p_brand",
        "p_retailprice",
        F.percent_rank().over(w).alias("pr"),
        F.count(F.lit(1)).over(wt).alias("tie_n"),
    )
    tied_price = F.when(F.col("tie_n") > 1, F.col("p_retailprice"))
    return (
        r.groupBy("p_brand")
        .agg(
            F.count(F.lit(1)).alias("n_parts"),
            F.countDistinct("p_retailprice").alias("n_prices"),
            F.countDistinct(tied_price).cast("bigint").alias("n_tie_groups"),
            F.max("tie_n").cast("bigint").alias("max_tie"),
            F.round(F.avg(F.when(F.col("tie_n") > 1, F.col("pr"))), 6).alias(
                "avg_tied_pr"
            ),
        )
        .orderBy("p_brand")
    )


# ---------------------------------------------------------------------------
# Critical path (PERT / CPM longest path) over the synthesized BOM
# DAG — the MAX-PLUS semiring closure, completing the repo's semiring
# family: count/sum (recursive_bom_explosion), min-plus (sssp_weighted),
# and now max-plus. Edge weight = task duration (child % 7 + 1,
# exact integers); per root the critical cost is the longest
# root-to-node path and the critical node is the max-cost node with
# the deterministic (cost DESC, node ASC) tie-break via max_by on a
# (cost, -node) struct... expressed as min_by on (-cost, node) so
# both engines break ties identically. Same wavefront discipline as
# the BOM explosion (shallow bushy tree ⇒ wavefront beats pointer
# doubling); every quantity is BIGINT so the hash is exact.
@_q(
    "bom_critical_path",
    f"""
    WITH RECURSIVE mx AS (SELECT MAX(p_partkey) AS m FROM part),
    edges AS (
      SELECT p_partkey AS parent, p_partkey * 2 AS child,
             (p_partkey * 2) % 7 + 1 AS w
      FROM part, mx WHERE p_partkey * 2 <= mx.m
      UNION ALL
      SELECT p_partkey, p_partkey * 2 + 1, (p_partkey * 2 + 1) % 7 + 1
      FROM part, mx WHERE p_partkey * 2 + 1 <= mx.m
    ),
    walk(root, node, cost, depth) AS (
      SELECT root, root, CAST(0 AS BIGINT), 0
      FROM (VALUES {", ".join(f"({r})" for r in _BOM_ROOTS)}) AS r(root)
      UNION ALL
      SELECT b.root, e.child, b.cost + e.w, b.depth + 1
      FROM walk b JOIN edges e ON e.parent = b.node
    )
    SELECT CAST(root AS BIGINT) AS root,
           CAST(MAX(depth) AS INTEGER) AS max_depth,
           CAST(MAX(cost) AS BIGINT) AS crit_cost,
           CAST((SELECT MIN(w2.node) FROM walk w2
                 WHERE w2.root = walk.root
                   AND w2.cost = (SELECT MAX(w3.cost) FROM walk w3
                                  WHERE w3.root = walk.root))
                AS BIGINT) AS crit_node,
           COUNT(*) AS n_nodes
    FROM walk GROUP BY root ORDER BY root
    """,
)
def q_bom_critical_path(spark: SparkSession, sf_dir: str) -> DataFrame:
    allp = _bom_levels(
        _bom_edges(spark, sf_dir, 7),
        "cost",
        0,
        lambda cost, w: cost + w,
        "critical path",
    )
    return (
        allp.groupBy("root")
        .agg(
            F.max("depth").cast("int").alias("max_depth"),
            F.max("cost").cast("bigint").alias("crit_cost"),
            F.min_by("node", F.struct((-F.col("cost")).alias("nc"), "node"))
            .cast("bigint")
            .alias("crit_node"),
            F.count(F.lit(1)).alias("n_nodes"),
        )
        .select(
            F.col("root").cast("bigint").alias("root"),
            "max_depth",
            "crit_cost",
            "crit_node",
            "n_nodes",
        )
        .orderBy("root")
    )


# ---------------------------------------------------------------------------
# ABC inventory classification (Pareto cut of the revenue
# concentration curve): parts ranked by revenue; class A carries the
# first 80% of cumulative revenue, B the next 15%, C the tail. The
# class boundary test stays EXACT — cum*100 <= total*80 compares
# DECIMAL(38,2) integers scaled by 100, no float share computation —
# and the ranking cumsum is the distributed prefix scan, not a
# single-partition window. The per-class rollup is the report every
# inventory/procurement review starts from.
@_q(
    "abc_inventory_classes",
    """
    WITH pr AS (
      SELECT l_partkey,
             SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS rev
      FROM lineitem GROUP BY 1
    ),
    tot AS (SELECT CAST(SUM(rev) AS DECIMAL(38,2)) AS t FROM pr),
    cum AS (
      SELECT l_partkey, rev,
             SUM(rev) OVER (ORDER BY rev DESC, l_partkey) AS c
      FROM pr
    ),
    classed AS (
      SELECT CASE WHEN c * 100 <= t * 80 THEN 'A'
                  WHEN c * 100 <= t * 95 THEN 'B'
                  ELSE 'C' END AS abc_class,
             rev
      FROM cum, tot
    )
    SELECT abc_class,
           CAST(COUNT(*) AS BIGINT) AS n_parts,
           CAST(SUM(rev) AS DOUBLE) AS revenue,
           round(CAST(SUM(rev) AS DOUBLE)
                 / CAST((SELECT t FROM tot) AS DOUBLE), 6) AS revenue_share
    FROM classed GROUP BY 1 ORDER BY 1
    """,
)
def q_abc_inventory_classes(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.quantiles import with_global_cumsum

    pr = (
        t(spark, sf_dir, "lineitem")
        .groupBy("l_partkey")
        .agg(
            F.sum(F.col("l_extendedprice").cast("decimal(18,2)")).alias("rev")
        )
    )
    tot = pr.agg(F.sum("rev").cast("decimal(38,2)").alias("t"))
    cum = with_global_cumsum(
        pr, ["rev", "l_partkey"], ["rev"], ascending=[False, True]
    )
    classed = cum.crossJoin(F.broadcast(tot)).select(
        F.when(F.col("cum_rev") * 100 <= F.col("t") * 80, "A")
        .when(F.col("cum_rev") * 100 <= F.col("t") * 95, "B")
        .otherwise("C")
        .alias("abc_class"),
        "rev",
        "t",
    )
    return (
        classed.groupBy("abc_class", "t")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_parts"),
            F.sum("rev").cast("double").alias("revenue"),
            F.round(
                F.sum("rev").cast("double") / F.col("t").cast("double"), 6
            ).alias("revenue_share"),
        )
        .select("abc_class", "n_parts", "revenue", "revenue_share")
        .orderBy("abc_class")
    )


# ---------------------------------------------------------------------------
# Gini coefficient of per-part revenue, EXACT: with values sorted
# ascending and 1-based ranks i, G = (2*sum(i*x_i) - (n+1)*sum(x))
# / (n*sum(x)). Ranks come from the distributed prefix scan (running
# COUNT over the (rev, partkey) order — never a single-partition
# window), so sum(i*x_i) accumulates as exact DECIMAL products and
# the statistic is two integer-exact terms and ONE division. The
# scalar complement to abc_inventory_classes' class rollup and
# pareto_concentration's top-share curve.
@_q(
    "gini_part_revenue",
    """
    WITH pr AS (
      SELECT l_partkey,
             SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS rev
      FROM lineitem GROUP BY 1
    ),
    ranked AS (
      SELECT rev,
             row_number() OVER (ORDER BY rev, l_partkey) AS i
      FROM pr
    ),
    agg AS (
      SELECT COUNT(*) AS n,
             CAST(SUM(rev) AS DECIMAL(38,2)) AS s,
             CAST(SUM(i * rev) AS DECIMAL(38,2)) AS si
      FROM ranked
    )
    SELECT CAST(n AS BIGINT) AS n_parts,
           round(CAST(2 * si - (n + 1) * s AS DOUBLE)
                 / CAST(n * s AS DOUBLE), 9) AS gini
    FROM agg
    """,
)
def q_gini_part_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.quantiles import with_global_cumsum

    pr = (
        t(spark, sf_dir, "lineitem")
        .groupBy("l_partkey")
        .agg(
            F.sum(F.col("l_extendedprice").cast("decimal(18,2)")).alias("rev")
        )
        .withColumn("one", F.lit(1))
    )
    ranked = with_global_cumsum(
        pr, ["rev", "l_partkey"], ["one"], ascending=[True, True]
    ).select("rev", F.col("cum_one").alias("i"))
    agg = ranked.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("rev").cast("decimal(38,2)").alias("s"),
        F.sum(F.col("i") * F.col("rev")).cast("decimal(38,2)").alias("si"),
    )
    n, s, si = F.col("n"), F.col("s"), F.col("si")
    return agg.select(
        n.cast("bigint").alias("n_parts"),
        F.round(
            (2 * si - (n + 1) * s).cast("double") / (n * s).cast("double"), 9
        ).alias("gini"),
    )


# ---------------------------------------------------------------------------
# Herfindahl-Hirschman supplier-concentration index per nation: HHI =
# sum over suppliers of (revenue share)^2, scaled by 10^4 as in the
# antitrust convention; the normalized form (HHI - 1/n)/(1 - 1/n)
# removes the supplier-count floor. Shares are ratios of exact
# DECIMAL sums; each squared share rounds to 12 and accumulates as
# DECIMAL(38,12) (order-independent). One broadcast of the supplier
# dim; per-nation state is supplier-count-sized.
@_q(
    "hhi_supplier_concentration",
    """
    WITH sr AS (
      SELECT n.n_name AS nation, l.l_suppkey AS sk,
             SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))) AS rev
      FROM lineitem l
      JOIN supplier s ON s.s_suppkey = l.l_suppkey
      JOIN nation n ON n.n_nationkey = s.s_nationkey
      GROUP BY 1, 2
    ),
    nt AS (
      SELECT nation, CAST(SUM(rev) AS DECIMAL(38,2)) AS tot,
             COUNT(*) AS ns
      FROM sr GROUP BY nation
    ),
    h AS (
      SELECT sr.nation, MAX(nt.ns) AS ns,
             CAST(SUM(CAST(round(
               (CAST(sr.rev AS DOUBLE) / nt.tot)
               * (CAST(sr.rev AS DOUBLE) / nt.tot) * 10000, 12)
               AS DECIMAL(38,12))) AS DOUBLE) AS hhi
      FROM sr JOIN nt ON nt.nation = sr.nation
      GROUP BY sr.nation
    )
    SELECT nation, CAST(ns AS BIGINT) AS n_suppliers,
           round(hhi, 6) AS hhi,
           CASE WHEN ns > 1
                THEN round((hhi / 10000 - 1.0 / ns) / (1.0 - 1.0 / ns), 9)
                END AS hhi_normalized
    FROM h ORDER BY nation
    """,
)
def q_hhi_supplier_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem")
    su = t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    na = t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    sr = (
        li.join(F.broadcast(su), li["l_suppkey"] == F.col("s_suppkey"))
        .join(F.broadcast(na), F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy(F.col("n_name").alias("nation"), F.col("l_suppkey").alias("sk"))
        .agg(
            F.sum(F.col("l_extendedprice").cast("decimal(18,2)")).alias("rev")
        )
    )
    nt = sr.groupBy(F.col("nation").alias("nn")).agg(
        F.sum("rev").cast("decimal(38,2)").alias("tot"),
        F.count(F.lit(1)).alias("ns"),
    )
    share = F.col("rev").cast("double") / F.col("tot")
    h = (
        sr.join(F.broadcast(nt), F.col("nation") == F.col("nn"))
        .groupBy("nation")
        .agg(
            F.max("ns").alias("ns"),
            F.sum(
                F.round(share * share * 10000, 12).cast("decimal(38,12)")
            )
            .cast("double")
            .alias("hhi"),
        )
    )
    return h.select(
        "nation",
        F.col("ns").cast("bigint").alias("n_suppliers"),
        F.round(F.col("hhi"), 6).alias("hhi"),
        # a single-supplier nation has no normalized form (the
        # 1 - 1/n denominator is zero; its HHI is exactly 10000)
        F.when(
            F.col("ns") > 1,
            F.round(
                (F.col("hhi") / 10000 - 1.0 / F.col("ns"))
                / (1.0 - 1.0 / F.col("ns")),
                9,
            ),
        ).alias("hhi_normalized"),
    ).orderBy("nation")


# ---------------------------------------------------------------------------
# Newsvendor optimal stock — classic stochastic inventory: with
# underage cost 4x overage, the profit-maximizing stock level is the
# critical-ratio quantile Q(cu/(cu+co)) = Q(0.8) of daily demand,
# and the EXACT order statistic (ceil(0.8 n)-th of n sorted daily
# quantities, deterministic tiebreak) — not an interpolated
# percentile — keeps both engines bit-identical on the integer
# demand lattice. Per brand: daily lineitem quantity series from one
# rollup; the selection is a window rank inside calendar-bounded
# groups. Output: stock level, days covered and the realized service
# level, per brand.
@_q(
    "newsvendor_quantile_stock",
    """
    WITH daily AS (
      SELECT p.p_brand AS brand, l.l_shipdate AS d,
             CAST(SUM(CAST(l.l_quantity AS BIGINT)) AS BIGINT) AS q
      FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
      GROUP BY 1, 2
    ),
    ranked AS (
      SELECT brand, q,
             row_number() OVER (PARTITION BY brand ORDER BY q, d) AS rn,
             COUNT(*) OVER (PARTITION BY brand) AS n
      FROM daily
    ),
    pick AS (
      SELECT brand, q AS stock_level, n
      FROM ranked WHERE rn = CAST(ceil(0.8 * n) AS BIGINT)
    )
    SELECT p.brand, CAST(p.n AS BIGINT) AS n_days,
           p.stock_level,
           round(CAST(SUM(CASE WHEN d.q <= p.stock_level THEN 1 ELSE 0 END)
                      AS DOUBLE) / p.n, 9) AS service_level
    FROM pick p JOIN daily d ON d.brand = p.brand
    GROUP BY p.brand, p.n, p.stock_level
    ORDER BY p.brand
    """,
)
def q_newsvendor_quantile_stock(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem")
    part = t(spark, sf_dir, "part")
    daily = (
        li.join(
            F.broadcast(part.select("p_partkey", "p_brand")),
            F.col("l_partkey") == F.col("p_partkey"),
        )
        .groupBy(F.col("p_brand").alias("brand"), F.col("l_shipdate").alias("d"))
        .agg(F.sum(F.col("l_quantity").cast("bigint")).cast("bigint").alias("q"))
        .localCheckpoint(eager=True)
    )
    w = Window.partitionBy("brand").orderBy("q", "d")
    wn = Window.partitionBy("brand")
    ranked = daily.select(
        "brand",
        "q",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(wn).alias("n"),
    )
    pick = ranked.where(
        F.col("rn") == F.ceil(0.8 * F.col("n")).cast("bigint")
    ).select("brand", F.col("q").alias("stock_level"), "n")
    return (
        pick.join(daily, "brand")
        .groupBy("brand", "n", "stock_level")
        .agg(
            F.round(
                F.sum(
                    F.when(F.col("q") <= F.col("stock_level"), 1).otherwise(0)
                ).cast("double")
                / F.col("n"),
                9,
            ).alias("service_level")
        )
        .select(
            "brand",
            F.col("n").cast("bigint").alias("n_days"),
            "stock_level",
            "service_level",
        )
        .orderBy("brand")
    )
