"""Iterative graph analytics beyond connected components / triangles:
PageRank and label propagation over the sampled co-supplier graph.

Scale discipline shared with `operators/dedup.py`'s CC: every
iteration is one join + one shuffle-by-dst aggregation, nothing but
(node, rank) rows move, localCheckpoint truncates lineage per round.
The oracle is the SAME fixed number of power-iteration steps unrolled
as chained CTEs, with each iteration's ranks rounded to 12 decimals
in BOTH engines — FP sums differ across engines only in summation
order (≈1e-16 absolute at fixture scale), so the per-iteration
round(12) re-synchronizes the trajectories and the final round(6)
hash match is exact, the same determinism seam as the distance
expressions in the vector tier.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.graphs import (
    EDGE_THIN_BELOW,
    aggregate_messages,
    bfs_levels,
    brandes_backward,
    brandes_forward,
    co_occurrence_pairs,
    directed_edges,
    md5_thin,
    relax_min,
)
from ..operators.spread import broadcast_if_small, counted_checkpoint
from ._util import t, registry

QUERIES, ORACLES, _q = registry()


# The same md5-sampled co-supplier edge set as triangle_count
# (relational6) — undirected pairs u < v, symmetrized for walks.
# MATERIALIZED throughout: the unrolled pagerank/label-prop rounds
# reference `edges` (and each other) repeatedly — without it DuckDB
# re-inlines the e0 self-join per reference, which at sf0.1 turns the
# label-prop oracle from seconds into a hang (2^rounds chain
# re-derivations; the same lesson as the CC and k-core oracles).
_SQL_EDGES = """
    ps AS MATERIALIZED (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem),
    e0 AS MATERIALIZED (
      SELECT DISTINCT a.l_suppkey AS u, b.l_suppkey AS v
      FROM ps a JOIN ps b ON a.l_partkey = b.l_partkey
                         AND a.l_suppkey < b.l_suppkey
    ),
    eu AS MATERIALIZED (
      SELECT u, v FROM e0
      WHERE CAST(('0x' || substring(md5(CAST(u * 1000 + v AS VARCHAR)), 1, 4))
                 AS INTEGER) < 9830
    ),
    edges AS MATERIALIZED (SELECT u AS src, v AS dst FROM eu
              UNION ALL SELECT v AS src, u AS dst FROM eu)
"""

_PR_ITERS = 10
_PR_DAMP = 0.85


def _undirected_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    ps = t(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey").distinct()
    # distinct BEFORE the md5 thinning, deliberately: map-side partial
    # distinct collapses the ~24x pair duplication across part keys
    # (7M generated pairs -> ~1M shuffled rows at sf0.1), and the md5
    # then runs on distinct pairs only (363k hashes, not 7M). The
    # filter and distinct commute, but this order shuffles fewer rows
    # and hashes ~20x less (guide §2.3/§1.2: cheapest total plan,
    # measured equal-wall locally and strictly less work at scale).
    e0 = co_occurrence_pairs(ps, "l_partkey", "l_suppkey")
    return e0.where(md5_thin(1000, EDGE_THIN_BELOW))


def _sql_pagerank() -> str:
    # unrolled power iteration: r0 = 1/n; r_{k+1}(v) = (1-d)/n
    # + d * sum_{(u,v) in edges} r_k(u)/outdeg(u), rounded per step
    d = _PR_DAMP
    ctes = [
        _SQL_EDGES.strip().rstrip(),
        """nodes AS MATERIALIZED (SELECT DISTINCT src AS node FROM edges),
    n AS MATERIALIZED (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM nodes),
    deg AS MATERIALIZED (SELECT src AS node, CAST(COUNT(*) AS DOUBLE) AS outdeg
            FROM edges GROUP BY src),
    r0 AS MATERIALIZED (SELECT node, round(1.0 / (SELECT n FROM n), 12) AS rank
           FROM nodes)""",
    ]
    for k in range(_PR_ITERS):
        ctes.append(
            f"""r{k + 1} AS MATERIALIZED (
      SELECT nd.node,
             round((1.0 - {d}) / (SELECT n FROM n)
                   + {d} * COALESCE(c.contrib, 0.0), 12) AS rank
      FROM nodes nd LEFT JOIN (
        SELECT e.dst AS node, SUM(r.rank / g.outdeg) AS contrib
        FROM r{k} r JOIN edges e ON e.src = r.node
        JOIN deg g ON g.node = r.node
        GROUP BY e.dst
      ) c ON c.node = nd.node
    )"""
        )
    return (
        "WITH "
        + ",\n    ".join(ctes)
        + f"""
    SELECT node AS s_suppkey, round(rank, 6) AS pagerank
    FROM r{_PR_ITERS}"""
    )


@_q("pagerank_suppliers", _sql_pagerank())
def q_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    edges, _ = directed_edges(_undirected_edges(spark, sf_dir))
    nodes, n = counted_checkpoint(edges.select(F.col("src").alias("node")).distinct())
    # fold the (static) out-degree INTO the edge table once: each
    # iteration is then ONE join + one aggregate instead of two joins
    # — the same contribution multiset, half the per-round shuffles
    edges_deg = (
        edges.join(
            edges.groupBy(F.col("src").alias("_dn")).agg(
                F.count(F.lit(1)).cast("double").alias("outdeg")
            ),
            edges["src"] == F.col("_dn"),
        )
        .select("src", "dst", "outdeg")
        .localCheckpoint(eager=True)
    )
    ranks = nodes.select(
        "node", F.round(F.lit(1.0 / n), 12).alias("rank")
    )
    for _ in range(_PR_ITERS):
        # size-guarded on the exact node count
        contrib = aggregate_messages(
            edges_deg,
            ranks,
            n,
            F.sum(F.col("rank") / F.col("outdeg")).alias("contrib"),
        )
        ranks = (
            nodes.join(contrib, "node", "left")
            .select(
                "node",
                F.round(
                    F.lit((1.0 - _PR_DAMP) / n)
                    + F.lit(_PR_DAMP) * F.coalesce(F.col("contrib"), F.lit(0.0)),
                    12,
                ).alias("rank"),
            )
            .localCheckpoint(eager=True)  # truncate lineage per round
        )
    return ranks.select(
        F.col("node").alias("s_suppkey"), F.round("rank", 6).alias("pagerank")
    )


_LP_ITERS = 5


def _sql_label_propagation() -> str:
    # synchronous min-label propagation, fixed rounds: each node takes
    # the MIN label among itself and its neighbors — deterministic
    # (no tie-breaking randomness), converges to per-component min,
    # intermediate rounds observable. Distinct from CC's min-label
    # frontier: this is the fixed-round synchronous form.
    ctes = [
        _SQL_EDGES.strip(),
        """nodes AS MATERIALIZED (SELECT DISTINCT src AS node FROM edges),
    l0 AS MATERIALIZED (SELECT node, node AS label FROM nodes)""",
    ]
    for k in range(_LP_ITERS):
        ctes.append(
            f"""l{k + 1} AS MATERIALIZED (
      SELECT n.node, LEAST(o.label, COALESCE(m.nbr_min, o.label)) AS label
      FROM nodes n
      JOIN l{k} o ON o.node = n.node
      LEFT JOIN (
        SELECT e.dst AS node, MIN(l.label) AS nbr_min
        FROM l{k} l JOIN edges e ON e.src = l.node
        GROUP BY e.dst
      ) m ON m.node = n.node
    )"""
        )
    trajectory = "\n      UNION ALL ".join(
        f"SELECT {k} AS round, COUNT(DISTINCT label) AS n_labels,"
        f" MIN(label) AS min_label FROM l{k}"
        for k in range(_LP_ITERS + 1)
    )
    return (
        "WITH "
        + ",\n    ".join(ctes)
        + f"""
    SELECT round, n_labels, min_label FROM ({trajectory})"""
    )


@_q("label_propagation_rounds", _sql_label_propagation())
def q_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Output = the convergence TRAJECTORY (round, distinct labels):
    the observable that distinguishes synchronous fixed-round
    propagation from the frontier CC operators (which only expose the
    fixpoint)."""
    edges, _ = directed_edges(_undirected_edges(spark, sf_dir))
    nodes = edges.select(F.col("src").alias("node")).distinct()
    # the vector's row count bounds the loop's broadcast guard (it is
    # invariant across rounds)
    labels, n_nodes = counted_checkpoint(
        nodes.select("node", F.col("node").alias("label"))
    )

    def _snap(k: int, lab: DataFrame) -> DataFrame:
        return lab.agg(
            F.lit(k).cast("int").alias("round"),
            F.countDistinct("label").alias("n_labels"),
            F.min("label").alias("min_label"),
        )

    snaps = [_snap(0, labels)]
    for k in range(1, _LP_ITERS + 1):
        nbr_min = aggregate_messages(
            edges, labels, n_nodes, F.min("label").alias("nbr_min")
        )
        labels = (
            labels.join(nbr_min, "node", "left")
            .select(
                "node",
                F.least(
                    F.col("label"), F.coalesce(F.col("nbr_min"), F.col("label"))
                ).alias("label"),
            )
            .localCheckpoint(eager=True)
        )
        snaps.append(_snap(k, labels))
    return reduce(lambda a, b: a.unionByName(b), snaps)


# ---------------------------------------------------------------------------
# BFS hop distance: minimum hops from the seed set (suppliers with
# suppkey % 10 == 0) over the same sampled co-supplier graph.
# Level-synchronous frontier expansion — each round is ONE join + one
# anti-join against the settled set; rows in flight are only the
# frontier, and the round count is the reached diameter (bounded by
# _BFS_MAX_HOPS). The recursive-CTE oracle proves the frontier
# algorithm computes the relational min-hop fixpoint.
_BFS_MAX_HOPS = 6


def _sql_bfs() -> str:
    return f"""
    WITH RECURSIVE {_SQL_EDGES.strip()},
    nodes AS (SELECT DISTINCT src AS node FROM edges),
    reach(node, hop) AS (
      SELECT node, 0 FROM nodes WHERE node % 10 = 0
      UNION
      SELECT e.dst, r.hop + 1
      FROM reach r JOIN edges e ON e.src = r.node
      WHERE r.hop < {_BFS_MAX_HOPS}
    )
    SELECT node AS s_suppkey, CAST(MIN(hop) AS BIGINT) AS hop
    FROM reach GROUP BY node
    """


@_q("bfs_hop_distance", _sql_bfs())
def q_bfs_hop_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    edges, _ = directed_edges(_undirected_edges(spark, sf_dir))
    nodes = edges.select(F.col("src").alias("node")).distinct()
    dist = bfs_levels(edges, nodes.where(F.col("node") % 10 == 0), _BFS_MAX_HOPS)
    return dist.select(F.col("node").alias("s_suppkey"), F.col("d").alias("hop"))


# ---------------------------------------------------------------------------
# Weighted single-source(-set) shortest paths: Bellman-Ford relaxation
# rounds over the co-part supplier graph with deterministic integer
# edge weights (md5-derived, 1..9, symmetric per undirected edge).
#
# Scale (100 TB): each round is ONE join (dist x edges, shuffled on
# the node key) + ONE min aggregation — rows in flight are |dist| +
# |edges|, never a pair explosion. Round count is the weighted-path
# hop diameter, not |V|; localCheckpoint truncates lineage per round
# (the same discipline as connected_components / pagerank). Integer
# weights keep every distance exact, so the unrolled-CTE oracle is
# bit-identical. Production variant for huge diameters: delta-stepping
# (bucketed relaxation); this fixture's diameter fits the fixed-round
# form, asserted by test_sssp_converged_before_round_cap.
_SSSP_ROUNDS = 10

_SQL_WEDGES = """
    wedges AS MATERIALIZED (
      SELECT u, v,
             CAST(('0x' || substring(md5(CAST(u * 1000 + v AS VARCHAR)), 5, 2))
                  AS INTEGER) % 9 + 1 AS w
      FROM eu
    ),
    edgesw AS MATERIALIZED (SELECT u AS src, v AS dst, w FROM wedges
               UNION ALL SELECT v AS src, u AS dst, w FROM wedges)
"""


def _sql_sssp() -> str:
    ctes = [
        _SQL_EDGES.strip().rstrip(),
        _SQL_WEDGES.strip().rstrip(),
        """d0 AS MATERIALIZED (
      SELECT DISTINCT src AS node, CAST(0 AS BIGINT) AS dist
      FROM edgesw WHERE src % 20 = 0)""",
    ]
    for k in range(_SSSP_ROUNDS):
        ctes.append(
            f"""d{k + 1} AS MATERIALIZED (
      SELECT node, MIN(dist) AS dist FROM (
        SELECT node, dist FROM d{k}
        UNION ALL
        SELECT e.dst AS node, d.dist + e.w AS dist
        FROM d{k} d JOIN edgesw e ON e.src = d.node
      ) GROUP BY node
    )"""
        )
    return (
        "WITH "
        + ",\n    ".join(ctes)
        + f"""
    SELECT node AS s_suppkey, CAST(dist AS BIGINT) AS dist
    FROM d{_SSSP_ROUNDS}
    """
    )


def _weighted_edges(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, int]:
    eu = _undirected_edges(spark, sf_dir)
    w = (
        F.conv(
            F.substring(F.md5((F.col("u") * 1000 + F.col("v")).cast("string")), 5, 2),
            16,
            10,
        ).cast("int")
        % 9
        + 1
    ).cast("bigint")
    return directed_edges(eu.withColumn("w", w), "w")


def _relax_from_seeds(
    spark: SparkSession, sf_dir: str, col: str, step: Column
) -> DataFrame:
    """`_SSSP_ROUNDS` rounds of `relax_min` over the weighted graph,
    from value 0 at the suppkey % 20 == 0 seeds."""
    # |dist| <= |nodes| <= |directed edges| (every node appears as a
    # src in the symmetrized table): the edge count bounds every
    # round's broadcast guard
    edges, n_edges = _weighted_edges(spark, sf_dir)
    seeds = (
        edges.select(F.col("src").alias("node"))
        .where(F.col("node") % 20 == 0)
        .distinct()
        .withColumn(col, F.lit(0).cast("bigint"))
        .localCheckpoint(eager=True)
    )
    return relax_min(edges, seeds, col, step, _SSSP_ROUNDS, n_edges)


@_q("sssp_weighted", _sql_sssp())
def q_sssp_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    dist = _relax_from_seeds(spark, sf_dir, "dist", F.col("dist") + F.col("w"))
    return dist.select(F.col("node").alias("s_suppkey"), "dist")


# ---------------------------------------------------------------------------
# Link prediction by neighborhood Jaccard — the classic non-edge
# scoring baseline: candidate (a, c) pairs are 2-hop neighbors
# (generated at the middle vertex, so the intermediate is the wedge
# set — the same Σd² quantity the triangle join bounds), common-
# neighbor counts come from the wedge groupBy, existing edges are
# anti-joined away, and jaccard = cn / (deg(a) + deg(c) - cn) stays
# integer until the one division. Top-20 with full deterministic
# tie-break. At 100 TB the wedge generation is the cost driver; the
# degree-cap / orientation mitigations from operators/graphs.py apply
# unchanged (wedges here need BOTH directions so cn is exact).
_LP_TOP = 20


def _sql_link_prediction() -> str:
    return f"""
    WITH {_SQL_EDGES.strip()},
    deg AS MATERIALIZED (
      SELECT src AS x, COUNT(*) AS d FROM edges GROUP BY src
    ),
    wedges AS (
      SELECT e1.dst AS a, e2.dst AS c, COUNT(*) AS cn
      FROM edges e1 JOIN edges e2
        ON e1.src = e2.src AND e1.dst < e2.dst
      GROUP BY e1.dst, e2.dst
    ),
    cand AS (
      SELECT w.a, w.c, w.cn FROM wedges w
      WHERE NOT EXISTS (SELECT 1 FROM eu WHERE eu.u = w.a AND eu.v = w.c)
    )
    SELECT cand.a AS u, cand.c AS v, CAST(cand.cn AS BIGINT) AS common_neighbors,
           round(CAST(cand.cn AS DOUBLE) / (da.d + dc.d - cand.cn), 6)
             AS jaccard
    FROM cand JOIN deg da ON da.x = cand.a JOIN deg dc ON dc.x = cand.c
    ORDER BY jaccard DESC, u, v LIMIT {_LP_TOP}
    """


# ---------------------------------------------------------------------------
# Adamic-Adar link prediction (Adamic & Adar 2003, "Friends and
# neighbors on the web"): AA(u,v) = sum over common neighbors z of
# 1/ln(deg z) — rare shared neighbors count more than hubs. Same
# wedge-enumeration skeleton as link_prediction_jaccard, but the wedge
# CARRIES its center's degree so the per-pair aggregate is a single
# sum of per-term round(1/ln d, 12) values (ln is the one
# transcendental; per-term rounding keeps JVM and DuckDB bit-equal,
# the discipline every ln-using query here follows). A wedge center
# has degree >= 2 by construction, so ln(d) > 0 always.
def _sql_adamic_adar() -> str:
    return f"""
    WITH {_SQL_EDGES.strip()},
    deg AS MATERIALIZED (
      -- the AA weight is a CENTER property: evaluate round(1/ln d, 12)
      -- once per node (7k rows), not once per wedge (11M at sf0.1 —
      -- measured ~4 s of redundant ln calls)
      -- degree-1 nodes can never be wedge centers (a<c needs two
      -- neighbors); guard them out or 1/ln(1) divides by zero
      SELECT src AS x,
             CASE WHEN COUNT(*) >= 2
                  THEN round(1.0 / ln(COUNT(*)), 12) END AS wz
      FROM edges GROUP BY src
    ),
    wedges AS (
      SELECT e1.dst AS a, e2.dst AS c,
             SUM(g.wz) AS aa,
             COUNT(*) AS cn
      FROM edges e1 JOIN edges e2
        ON e1.src = e2.src AND e1.dst < e2.dst
      JOIN deg g ON g.x = e1.src
      GROUP BY e1.dst, e2.dst
    ),
    cand AS (
      SELECT w.a, w.c, w.aa, w.cn FROM wedges w
      WHERE NOT EXISTS (SELECT 1 FROM eu WHERE eu.u = w.a AND eu.v = w.c)
    )
    SELECT a AS u, c AS v, CAST(cn AS BIGINT) AS common_neighbors,
           round(aa, 6) AS adamic_adar
    FROM cand
    ORDER BY round(aa, 6) DESC, u, v LIMIT {_LP_TOP}
    """


@_q("adamic_adar_topk", _sql_adamic_adar())
def q_adamic_adar_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    eu = _undirected_edges(spark, sf_dir).localCheckpoint(eager=True)
    edges, _ = directed_edges(eu)
    deg = edges.groupBy(F.col("src").alias("x")).agg(
        # degree-1 nodes never center a wedge; unguarded 1/ln(1)
        # divides by zero (surfaced at sf0.001, where the sampled
        # graph has pendant vertices)
        F.when(
            F.count(F.lit(1)) >= 2,
            F.round(F.lit(1.0) / F.log(F.count(F.lit(1))), 12),
        ).alias("wz")
    )
    e1 = edges.select(F.col("src").alias("b"), F.col("dst").alias("a"))
    e2 = edges.select(F.col("src").alias("b"), F.col("dst").alias("c"))
    wedges = (
        e1.join(e2, "b")
        .where(F.col("a") < F.col("c"))
        .join(F.broadcast(deg.select(F.col("x").alias("b"), "wz")), "b")
        .groupBy("a", "c")
        .agg(
            F.sum("wz").alias("aa"),
            F.count(F.lit(1)).alias("cn"),
        )
    )
    cand = wedges.join(
        eu, (wedges["a"] == eu["u"]) & (wedges["c"] == eu["v"]), "left_anti"
    )
    return (
        cand.select(
            F.col("a").alias("u"),
            F.col("c").alias("v"),
            F.col("cn").cast("bigint").alias("common_neighbors"),
            F.round("aa", 6).alias("adamic_adar"),
        )
        .orderBy(F.desc("adamic_adar"), F.asc("u"), F.asc("v"))
        .limit(_LP_TOP)
    )


@_q("link_prediction_jaccard", _sql_link_prediction())
def q_link_prediction_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    eu = _undirected_edges(spark, sf_dir).localCheckpoint(eager=True)
    edges, _ = directed_edges(eu)
    deg = edges.groupBy(F.col("src").alias("x")).agg(F.count(F.lit(1)).alias("d"))
    e1 = edges.select(F.col("src").alias("b"), F.col("dst").alias("a"))
    e2 = edges.select(F.col("src").alias("b"), F.col("dst").alias("c"))
    wedges = (
        e1.join(e2, "b")
        .where(F.col("a") < F.col("c"))
        .groupBy("a", "c")
        .agg(F.count(F.lit(1)).alias("cn"))
    )
    cand = wedges.join(
        eu, (wedges["a"] == eu["u"]) & (wedges["c"] == eu["v"]), "left_anti"
    )
    da = deg.select(F.col("x").alias("a"), F.col("d").alias("da"))
    dc = deg.select(F.col("x").alias("c"), F.col("d").alias("dc"))
    return (
        cand.join(F.broadcast(da), "a")
        .join(F.broadcast(dc), "c")
        .select(
            F.col("a").alias("u"),
            F.col("c").alias("v"),
            F.col("cn").cast("bigint").alias("common_neighbors"),
            F.round(
                F.col("cn").cast("double")
                / (F.col("da") + F.col("dc") - F.col("cn")),
                6,
            ).alias("jaccard"),
        )
        .orderBy(F.desc("jaccard"), F.asc("u"), F.asc("v"))
        .limit(_LP_TOP)
    )


# ---------------------------------------------------------------------------
# Personalized PageRank: the restart mass concentrates on a SEED SET
# (node % 20 == 0, the SSSP seeds) instead of spreading uniformly —
# the similarity-to-seeds ranking used for recommendation and fraud
# halo scoring. Same fixed-round synchronous iteration and per-round
# round(...,12) determinism seam as pagerank_suppliers; the only
# change is the restart vector, which is exactly what "personalized"
# means. Seeds hold rank mass the uniform walk would spread, so the
# ordering is locality-to-seeds, asserted in tests.
_PPR_ITERS = 10
_PPR_DAMP = 0.85


def _sql_ppr() -> str:
    d = _PPR_DAMP
    ctes = [
        _SQL_EDGES.strip().rstrip(),
        """nodes AS MATERIALIZED (SELECT DISTINCT src AS node FROM edges),
    seeds AS MATERIALIZED (SELECT node FROM nodes WHERE node % 20 = 0),
    ns AS MATERIALIZED (SELECT CAST(COUNT(*) AS DOUBLE) AS ns FROM seeds),
    deg AS MATERIALIZED (SELECT src AS node, CAST(COUNT(*) AS DOUBLE) AS outdeg
            FROM edges GROUP BY src),
    p0 AS MATERIALIZED (
      SELECT nd.node,
             CASE WHEN s.node IS NOT NULL
                  THEN round(1.0 / (SELECT ns FROM ns), 12) ELSE 0.0 END AS rank
      FROM nodes nd LEFT JOIN seeds s ON s.node = nd.node)""",
    ]
    for k in range(_PPR_ITERS):
        ctes.append(
            f"""p{k + 1} AS MATERIALIZED (
      SELECT nd.node,
             round((1.0 - {d}) * CASE WHEN s.node IS NOT NULL
                                      THEN 1.0 / (SELECT ns FROM ns)
                                      ELSE 0.0 END
                   + {d} * COALESCE(c.contrib, 0.0), 12) AS rank
      FROM nodes nd
      LEFT JOIN seeds s ON s.node = nd.node
      LEFT JOIN (
        SELECT e.dst AS node, SUM(r.rank / g.outdeg) AS contrib
        FROM p{k} r JOIN edges e ON e.src = r.node
        JOIN deg g ON g.node = r.node
        GROUP BY e.dst
      ) c ON c.node = nd.node
    )"""
        )
    return (
        "WITH "
        + ",\n    ".join(ctes)
        + f"""
    SELECT node AS s_suppkey, round(rank, 6) AS ppr
    FROM p{_PPR_ITERS} WHERE rank > 0
    """
    )


@_q("personalized_pagerank", _sql_ppr())
def q_personalized_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    edges, _ = directed_edges(_undirected_edges(spark, sf_dir))
    # the node count bounds the per-round broadcast guard (the rank
    # vector spans all nodes)
    nodes, n_nodes = counted_checkpoint(
        edges.select(F.col("src").alias("node")).distinct()
    )
    seeds, ns = counted_checkpoint(nodes.where(F.col("node") % 20 == 0))
    # degree folded into the edge table once (see pagerank_suppliers):
    # one join + one aggregate per iteration
    edges_deg = (
        edges.join(
            edges.groupBy(F.col("src").alias("_dn")).agg(
                F.count(F.lit(1)).cast("double").alias("outdeg")
            ),
            edges["src"] == F.col("_dn"),
        )
        .select("src", "dst", "outdeg")
        .localCheckpoint(eager=True)
    )
    restart = nodes.join(
        seeds.withColumn("_s", F.lit(1)), "node", "left"
    ).select(
        "node",
        F.when(F.col("_s").isNotNull(), F.round(F.lit(1.0 / ns), 12))
        .otherwise(F.lit(0.0))
        .alias("restart"),
    ).localCheckpoint(eager=True)
    ranks = restart.select("node", F.col("restart").alias("rank"))
    for _ in range(_PPR_ITERS):
        contrib = aggregate_messages(
            edges_deg,
            ranks,
            n_nodes,
            F.sum(F.col("rank") / F.col("outdeg")).alias("contrib"),
        )
        ranks = (
            restart.join(contrib, "node", "left")
            .select(
                "node",
                F.round(
                    (1.0 - _PPR_DAMP) * F.col("restart")
                    + _PPR_DAMP * F.coalesce(F.col("contrib"), F.lit(0.0)),
                    12,
                ).alias("rank"),
            )
            .localCheckpoint(eager=True)
        )
    return ranks.where(F.col("rank") > 0).select(
        F.col("node").alias("s_suppkey"), F.round("rank", 6).alias("ppr")
    )


# ---------------------------------------------------------------------------
# Degree distribution + power-law fit: the graph's degree histogram
# and the Hill/Newman MLE exponent alpha = 1 + n / Σ ln(d / (dmin-0.5))
# over degrees >= dmin — the standard "is this scale-free" readout
# that decides whether skew mitigations (salting, degree orientation)
# are needed. Degrees are one aggregation; the ln sum is an ORDERED
# fold (the ANOVA seam) so float accumulation is pinned cross-engine.
_PL_DMIN = 2


@_q(
    "degree_powerlaw_fit",
    f"""
    WITH {_SQL_EDGES.strip()},
    deg AS MATERIALIZED (
      SELECT src AS node, COUNT(*) AS d FROM edges GROUP BY src
    ),
    hist AS (
      SELECT d, COUNT(*) AS n_nodes FROM deg GROUP BY d
    ),
    tail AS (
      SELECT d FROM deg WHERE d >= {_PL_DMIN}
    ),
    fit AS (
      SELECT COUNT(*) AS n_tail,
             SUM(ln(d / ({_PL_DMIN} - 0.5)) ORDER BY d) AS lnsum
      FROM tail
    )
    SELECT CAST(h.d AS BIGINT) AS degree, CAST(h.n_nodes AS BIGINT) AS n_nodes,
           CAST(f.n_tail AS BIGINT) AS n_tail,
           round(1.0 + f.n_tail / f.lnsum, 6) AS alpha
    FROM hist h CROSS JOIN fit f
    ORDER BY degree
    """,
)
def q_degree_powerlaw_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    edges, _ = directed_edges(_undirected_edges(spark, sf_dir))
    deg = edges.groupBy(F.col("src").alias("node")).agg(
        F.count(F.lit(1)).alias("d")
    )
    hist = deg.groupBy("d").agg(F.count(F.lit(1)).alias("n_nodes"))
    tail = deg.where(F.col("d") >= _PL_DMIN)
    fit = tail.agg(
        F.count(F.lit(1)).alias("n_tail"),
        # 1.5D, not (2 - 0.5): Spark parses the latter as DECIMAL and
        # the decimal division truncates before ln
        F.expr(
            f"aggregate(array_sort(collect_list(d)), cast(0.0 as double),"
            f" (acc, x) -> acc + ln(cast(x as double) / {_PL_DMIN - 0.5}D))"
        ).alias("lnsum"),
    )
    return (
        hist.crossJoin(F.broadcast(fit))
        .select(
            F.col("d").cast("bigint").alias("degree"),
            F.col("n_nodes").cast("bigint").alias("n_nodes"),
            F.col("n_tail").cast("bigint").alias("n_tail"),
            F.round(1.0 + F.col("n_tail") / F.col("lnsum"), 6).alias("alpha"),
        )
        .orderBy("degree")
    )


# ---------------------------------------------------------------------------
# Degree assortativity (Newman): Pearson correlation of endpoint
# degrees over the directed edge list — do hubs attach to hubs
# (r > 0) or to leaves (r < 0)? Everything is integer power sums
# (Σdu, Σdv, Σdu², Σdv², Σdu·dv over the 2m directed edges) until
# the one final ratio — the moments discipline from stats_moments
# applied to graph structure. Complements degree_powerlaw_fit: the
# two numbers together decide skew strategy (salting helps a
# disassortative hub graph most).
@_q(
    "degree_assortativity",
    f"""
    WITH {_SQL_EDGES.strip()},
    deg AS MATERIALIZED (
      SELECT src AS node, COUNT(*) AS d FROM edges GROUP BY src
    ),
    ed AS (
      SELECT da.d AS du, db.d AS dv
      FROM edges e JOIN deg da ON da.node = e.src
                   JOIN deg db ON db.node = e.dst
    ),
    m AS (
      SELECT COUNT(*) AS n, SUM(du) AS s1, SUM(dv) AS s2,
             SUM(du * du) AS q1, SUM(dv * dv) AS q2,
             SUM(du * dv) AS x
      FROM ed
    )
    SELECT CAST(n AS BIGINT) AS n_directed_edges,
           round((CAST(n AS DOUBLE) * x - CAST(s1 AS DOUBLE) * s2)
                 / (sqrt(CAST(n AS DOUBLE) * q1 - CAST(s1 AS DOUBLE) * s1)
                    * sqrt(CAST(n AS DOUBLE) * q2 - CAST(s2 AS DOUBLE) * s2)),
                 6) AS assortativity
    FROM m
    """,
)
def q_degree_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    edges, _ = directed_edges(_undirected_edges(spark, sf_dir))
    deg = edges.groupBy(F.col("src").alias("node")).agg(
        F.count(F.lit(1)).alias("d")
    )
    da = deg.select(F.col("node").alias("src"), F.col("d").alias("du"))
    db = deg.select(F.col("node").alias("dst"), F.col("d").alias("dv"))
    ed = edges.join(F.broadcast(da), "src").join(F.broadcast(db), "dst")
    m = ed.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("du").alias("s1"),
        F.sum("dv").alias("s2"),
        F.sum(F.col("du") * F.col("du")).alias("q1"),
        F.sum(F.col("dv") * F.col("dv")).alias("q2"),
        F.sum(F.col("du") * F.col("dv")).alias("x"),
    )
    n = F.col("n").cast("double")
    num = n * F.col("x") - F.col("s1").cast("double") * F.col("s2")
    den = F.sqrt(n * F.col("q1") - F.col("s1").cast("double") * F.col("s1")) * F.sqrt(
        n * F.col("q2") - F.col("s2").cast("double") * F.col("s2")
    )
    return m.select(
        F.col("n").cast("bigint").alias("n_directed_edges"),
        F.round(num / den, 6).alias("assortativity"),
    )


# ---------------------------------------------------------------------------
# Hub-removal resilience (percolation readout): component structure
# of the graph BEFORE vs AFTER deleting the top-K highest-degree
# hubs — the supply-chain/network robustness question ("what breaks
# if the biggest supplier disappears"). Components come from the same
# fixed-round synchronous min-label propagation as
# label_propagation_rounds (deterministic even pre-convergence, and
# the fixture converges within the round budget), run on both edge
# sets; the report is per-variant label count and giant-component
# share. Hub selection is deterministic ((degree, id) ties).
_RES_ROUNDS = 6
_RES_HUBS = 3


def _sql_resilience() -> str:
    ctes = [
        _SQL_EDGES.strip().rstrip(),
        f"""deg AS MATERIALIZED (
      SELECT src AS node, COUNT(*) AS d FROM edges GROUP BY src
    ),
    hubs AS MATERIALIZED (
      SELECT node FROM deg ORDER BY d DESC, node LIMIT {_RES_HUBS}
    ),
    edges_cut AS MATERIALIZED (
      SELECT e.src, e.dst FROM edges e
      WHERE e.src NOT IN (SELECT node FROM hubs)
        AND e.dst NOT IN (SELECT node FROM hubs)
    )""",
    ]
    for tag, etab in (("full", "edges"), ("cut", "edges_cut")):
        ctes.append(
            f"""n_{tag} AS MATERIALIZED (SELECT DISTINCT src AS node FROM {etab}),
    l_{tag}_0 AS MATERIALIZED (SELECT node, node AS label FROM n_{tag})"""
        )
        for k in range(_RES_ROUNDS):
            ctes.append(
                f"""l_{tag}_{k + 1} AS MATERIALIZED (
      SELECT n.node, LEAST(o.label, COALESCE(m.nbr_min, o.label)) AS label
      FROM n_{tag} n
      JOIN l_{tag}_{k} o ON o.node = n.node
      LEFT JOIN (
        SELECT e.dst AS node, MIN(l.label) AS nbr_min
        FROM l_{tag}_{k} l JOIN {etab} e ON e.src = l.node
        GROUP BY e.dst
      ) m ON m.node = n.node
    )"""
            )
    sel = "\n      UNION ALL ".join(
        f"""SELECT '{tag}' AS variant,
             (SELECT COUNT(*) FROM n_{tag}) AS n_nodes,
             COUNT(DISTINCT label) AS n_components,
             max(cnt) AS giant_size
      FROM (SELECT label, COUNT(*) AS cnt
            FROM l_{tag}_{_RES_ROUNDS} GROUP BY label)"""
        for tag in ("full", "cut")
    )
    return (
        "WITH "
        + ",\n    ".join(ctes)
        + f"""
    SELECT variant, CAST(n_nodes AS BIGINT) AS n_nodes,
           CAST(n_components AS BIGINT) AS n_components,
           CAST(giant_size AS BIGINT) AS giant_size,
           round(CAST(giant_size AS DOUBLE) / n_nodes, 6) AS giant_share
    FROM ({sel}) ORDER BY variant
    """
    )


@_q("hub_removal_resilience", _sql_resilience())
def q_hub_removal_resilience(spark: SparkSession, sf_dir: str) -> DataFrame:
    # every label vector is bounded by its node count <= |edges|
    # (edges_cut is a subset of edges): the edge count bounds both
    # variants' broadcast guard
    edges, n_edges = directed_edges(_undirected_edges(spark, sf_dir))
    deg = edges.groupBy(F.col("src").alias("node")).agg(
        F.count(F.lit(1)).alias("d")
    )
    hubs = deg.orderBy(F.desc("d"), F.asc("node")).limit(_RES_HUBS).select("node")
    edges_cut = (
        edges.join(hubs.withColumnRenamed("node", "src"), "src", "left_anti")
        .join(hubs.withColumnRenamed("node", "dst"), "dst", "left_anti")
        .localCheckpoint(eager=True)
    )
    out = None
    for tag, e in (("full", edges), ("cut", edges_cut)):
        nodes = e.select(F.col("src").alias("node")).distinct().localCheckpoint(
            eager=True
        )
        labels = nodes.withColumn("label", F.col("node"))
        for _ in range(_RES_ROUNDS):
            nbr_min = aggregate_messages(
                e, labels, n_edges, F.min("label").alias("nbr_min")
            )
            labels = (
                labels.join(nbr_min, "node", "left")
                .select(
                    "node",
                    F.least(
                        F.col("label"),
                        F.coalesce(F.col("nbr_min"), F.col("label")),
                    ).alias("label"),
                )
                .localCheckpoint(eager=True)
            )
        comp = labels.groupBy("label").agg(F.count(F.lit(1)).alias("cnt"))
        row = (
            comp.agg(
                F.count(F.lit(1)).alias("n_components"),
                F.max("cnt").alias("giant_size"),
            )
            .crossJoin(F.broadcast(nodes.agg(F.count(F.lit(1)).alias("n_nodes"))))
            .select(
                F.lit(tag).alias("variant"),
                F.col("n_nodes").cast("bigint").alias("n_nodes"),
                F.col("n_components").cast("bigint").alias("n_components"),
                F.col("giant_size").cast("bigint").alias("giant_size"),
                F.round(
                    F.col("giant_size").cast("double") / F.col("n_nodes"), 6
                ).alias("giant_share"),
            )
        )
        out = row if out is None else out.unionByName(row)
    return out.orderBy("variant")


# ---------------------------------------------------------------------------
# Sampled closeness + harmonic centrality — the landmark pattern:
# all-pairs BFS is O(n·m), so production centrality runs from a seed
# SAMPLE (here the bfs_hop_distance seed set). One level-synchronous
# multi-source BFS carries (seed, node, hop) — per round ONE edge join
# + ONE anti-join against the settled set, frontier rows bounded by
# |seeds|×|nodes| — then closeness(s) = reached/Σd and harmonic(s) =
# Σ 1/d fold per seed. The node%10 seed rule is a FIXTURE ratio (keeps
# the oracle deterministic); at scale fix the seed COUNT (e.g. 64
# hash-chosen seeds), not the fraction — a constant fraction makes the
# frontier state Θ(|V|²/10) and defeats the point of sampling.
#
# Exactness: hops are integers ≤ 8, and every 1/d with d ≤ 8 is an
# exact multiple of 1/840 (lcm(1..8)), so the harmonic sum runs on
# the integer lattice (Σ 840/d in BIGINT) — order-free partials, one
# float division at the end. Same hop cap in the oracle's recursive
# CTE pins identical truncation.
_CLOSE_MAX_HOPS = 8
_CLOSE_LCM = 840  # lcm(1..8): makes every 1/d an integer multiple


def _sql_closeness() -> str:
    return f"""
    WITH RECURSIVE {_SQL_EDGES.strip()},
    nodes AS (SELECT DISTINCT src AS node FROM edges),
    reach(seed, node, hop) AS (
      SELECT node, node, 0 FROM nodes WHERE node % 10 = 0
      UNION
      SELECT r.seed, e.dst, r.hop + 1
      FROM reach r JOIN edges e ON e.src = r.node
      WHERE r.hop < {_CLOSE_MAX_HOPS}
    ),
    dist AS (
      SELECT seed, node, MIN(hop) AS d FROM reach GROUP BY seed, node
    )
    SELECT seed AS s_suppkey,
           CAST(COUNT(*) FILTER (d > 0) AS BIGINT) AS n_reached,
           CAST(SUM(d) AS BIGINT) AS sum_hops,
           round(CAST(COUNT(*) FILTER (d > 0) AS DOUBLE) / SUM(d), 6)
             AS closeness,
           round(CAST(SUM(CASE WHEN d > 0 THEN {_CLOSE_LCM} // d
                               ELSE 0 END) AS DOUBLE) / {_CLOSE_LCM}.0, 6)
             AS harmonic
    FROM dist GROUP BY seed ORDER BY seed
    """


@_q("closeness_centrality_sampled", _sql_closeness())
def q_closeness_centrality_sampled(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    edges, _ = directed_edges(_undirected_edges(spark, sf_dir))
    nodes = edges.select(F.col("src").alias("node")).distinct()
    seeds = nodes.where(F.col("node") % 10 == 0).select(
        F.col("node").alias("seed"), "node"
    )
    dist = bfs_levels(edges, seeds, _CLOSE_MAX_HOPS, keys=("seed", "node"))
    reached = F.count(F.when(F.col("d") > 0, 1))
    lcm_term = F.when(
        F.col("d") > 0, F.floor(F.lit(_CLOSE_LCM) / F.col("d"))
    ).otherwise(0)
    return (
        dist.groupBy(F.col("seed").alias("s_suppkey"))
        .agg(
            reached.cast("bigint").alias("n_reached"),
            F.sum("d").cast("bigint").alias("sum_hops"),
            F.round(reached.cast("double") / F.sum("d"), 6).alias("closeness"),
            F.round(
                F.sum(lcm_term).cast("double") / float(_CLOSE_LCM), 6
            ).alias("harmonic"),
        )
        .orderBy("s_suppkey")
    )


# ---------------------------------------------------------------------------
# Diameter estimation by double BFS sweep (the standard lower-bound
# heuristic, cf. Magnien-Latapy-Habib 2009): BFS from a canonical
# start (min node), hop to the farthest node found, BFS again from
# there — the second eccentricity is a diameter lower bound that is
# exact on trees and empirically tight on real graphs. Two
# level-synchronous BFS loops (one join + one anti-join per round,
# the bfs_hop_distance discipline); the only driver traffic is the
# farthest-node argmax (1 row) between sweeps. All-pairs BFS would be
# O(n*m) — the sweep is 2 BFS runs at ANY graph size.
_DIAM_MAX_HOPS = 12


def _sql_diameter() -> str:
    return f"""
    WITH RECURSIVE {_SQL_EDGES.strip()},
    nodes AS (SELECT DISTINCT src AS node FROM edges),
    start AS (SELECT MIN(node) AS s FROM nodes),
    r1(node, hop) AS (
      SELECT s, 0 FROM start
      UNION
      SELECT e.dst, r.hop + 1
      FROM r1 r JOIN edges e ON e.src = r.node
      WHERE r.hop < {_DIAM_MAX_HOPS}
    ),
    d1 AS (SELECT node, MIN(hop) AS h FROM r1 GROUP BY node),
    far AS (
      SELECT node AS f FROM d1
      ORDER BY h DESC, node LIMIT 1
    ),
    r2(node, hop) AS (
      SELECT f, 0 FROM far
      UNION
      SELECT e.dst, r.hop + 1
      FROM r2 r JOIN edges e ON e.src = r.node
      WHERE r.hop < {_DIAM_MAX_HOPS}
    ),
    d2 AS (SELECT node, MIN(hop) AS h FROM r2 GROUP BY node)
    SELECT (SELECT CAST(s AS BIGINT) FROM start) AS start_node,
           (SELECT CAST(MAX(h) AS BIGINT) FROM d1) AS ecc_start,
           (SELECT CAST(f AS BIGINT) FROM far) AS far_node,
           (SELECT CAST(MAX(h) AS BIGINT) FROM d2) AS diameter_lb,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM d1) AS component_size
    """


@_q("graph_diameter_sweep", _sql_diameter())
def q_graph_diameter_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    edges, _ = directed_edges(_undirected_edges(spark, sf_dir))
    nodes = edges.select(F.col("src").alias("node")).distinct()
    start = nodes.agg(F.min("node").alias("node"))
    d1 = bfs_levels(edges, start, _DIAM_MAX_HOPS)
    far = d1.orderBy(F.desc("d"), F.asc("node")).limit(1).select("node")
    d2 = bfs_levels(edges, far, _DIAM_MAX_HOPS)
    return (
        start.select(F.col("node").cast("bigint").alias("start_node"))
        .join(F.broadcast(d1.agg(F.max("d").alias("ecc_start"))))
        .join(
            F.broadcast(
                far.select(F.col("node").cast("bigint").alias("far_node"))
            )
        )
        .join(F.broadcast(d2.agg(F.max("d").alias("diameter_lb"))))
        .join(
            F.broadcast(
                d1.agg(F.count(F.lit(1)).cast("bigint").alias("component_size"))
            )
        )
    )


# ---------------------------------------------------------------------------
# Community label propagation (Raghavan et al. 2007) with a
# DETERMINISTIC min-tie rule: each round, every node adopts the most
# frequent label among its NEIGHBORS, ties broken by the smallest
# label — the community baseline, distinct from the min-label
# propagation above (which computes components, not communities: mode
# keeps dense blocks separate where min floods everything to one
# label). Synchronous fixed-round updates (asynchronous LPA is
# scan-order-dependent and irreproducible by construction — the same
# determinism upgrade as DBSCAN's min border assignment).
#
# Plan per round (the 100 TB shape): ONE groupBy(dst, label) count
# with map-side partials, then ONE argmax-by-(count, -label) groupBy —
# two shuffles carrying (node, label, count) rows, nothing
# proportional to edges beyond the count input; localCheckpoint
# truncates the per-round lineage. The oracle unrolls the identical
# rounds as chained CTEs (count -> per-node max -> min label at max),
# all on exact integers — no FP seam at all.
_CLP_ITERS = 4


def _sql_community_lp() -> str:
    ctes = [
        _SQL_EDGES.strip(),
        """nodes AS MATERIALIZED (SELECT DISTINCT src AS node FROM edges),
    c0 AS MATERIALIZED (SELECT node, node AS label FROM nodes)""",
    ]
    for k in range(_CLP_ITERS):
        ctes.append(
            f"""cnt{k} AS MATERIALIZED (
      SELECT e.dst AS node, l.label, COUNT(*) AS c
      FROM c{k} l JOIN edges e ON e.src = l.node
      GROUP BY e.dst, l.label
    ),
    mx{k} AS MATERIALIZED (
      SELECT node, MAX(c) AS mc FROM cnt{k} GROUP BY node
    ),
    c{k + 1} AS MATERIALIZED (
      SELECT c.node, MIN(c.label) AS label
      FROM cnt{k} c JOIN mx{k} m ON m.node = c.node AND c.c = m.mc
      GROUP BY c.node
    )"""
        )
    traj = "\n      UNION ALL ".join(
        f"SELECT {k} AS round, COUNT(DISTINCT label) AS n_comms,"
        f" CAST(MAX(sz) AS BIGINT) AS max_size,"
        f" CAST(SUM(label * sz) AS BIGINT) AS label_checksum"
        f" FROM (SELECT label, COUNT(*) AS sz FROM c{k} GROUP BY label)"
        for k in range(_CLP_ITERS + 1)
    )
    return (
        "WITH "
        + ",\n    ".join(ctes)
        + f"""
    SELECT round, n_comms, max_size, label_checksum FROM ({traj})
    ORDER BY round"""
    )


@_q("community_label_propagation", _sql_community_lp())
def q_community_label_propagation(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Output = the trajectory (round, #communities, largest size,
    label checksum): community counts stabilize in a handful of
    rounds on the fixture graph, and the checksum makes the hash
    sensitive to every node's label, not just the aggregate counts."""
    edges, _ = directed_edges(_undirected_edges(spark, sf_dir))
    nodes = edges.select(F.col("src").alias("node")).distinct()
    # the vector's row count bounds the loop's broadcast guard (it is
    # invariant across rounds)
    labels, n_nodes = counted_checkpoint(
        nodes.select("node", F.col("node").alias("label"))
    )

    def _snap(k: int, lab: DataFrame) -> DataFrame:
        sizes = lab.groupBy("label").agg(F.count(F.lit(1)).alias("sz"))
        return sizes.agg(
            F.lit(k).cast("int").alias("round"),
            F.count(F.lit(1)).alias("n_comms"),
            F.max("sz").cast("bigint").alias("max_size"),
            F.sum(F.col("label") * F.col("sz")).cast("bigint").alias(
                "label_checksum"
            ),
        )

    snaps = [_snap(0, labels)]
    for k in range(1, _CLP_ITERS + 1):
        cnt = aggregate_messages(
            edges, labels, n_nodes, F.count(F.lit(1)).alias("c"), by="label"
        )
        # argmax by (count, then smallest label): max(struct(c, -label))
        # — one aggregation, no window, map-side partials intact.
        labels = (
            cnt.groupBy("node")
            .agg(
                F.max(
                    F.struct(F.col("c"), (-F.col("label")).alias("nl"))
                ).alias("m")
            )
            .select("node", (-F.col("m.nl")).alias("label"))
            .localCheckpoint(eager=True)
        )
        snaps.append(_snap(k, labels))
    return reduce(lambda a, b: a.unionByName(b), snaps).orderBy("round")


# ---------------------------------------------------------------------------
# Sampled betweenness centrality (Brandes 2001 dependency
# accumulation), radius-capped at 4 hops. On every fixture SF the cap
# EXCEEDS each seed's measured eccentricity (4 at sf0.001, 3 at
# sf0.01, 2 at sf0.1 — pinned by
# tests/test_round9_queries.test_betweenness_radius_covers_seed_
# eccentricity, the sssp round-cap convention), so here this IS the
# EXACT sampled Brandes from those seeds, not an approximation; at
# production scale the radius becomes the deliberate bounded-distance
# k-betweenness knob. Forward BFS from a FIXED SEED COUNT (the 8
# smallest node ids — count-fixed, not ratio-fixed, per the
# closeness_centrality_sampled scaling note) computes shortest-path
# counts sigma on the exact integer lattice; the backward pass
# accumulates delta(v) = sum_w sigma_v/sigma_w * (1 + delta_w) level
# by level with a per-level round(12) (the pagerank re-sync seam —
# the only floats in the whole query); per-node betweenness then
# sums the per-seed deltas as exact picounits (round(delta*1e12)
# BIGINT), so the cross-seed accumulation is order-free. Plan (the
# operators/graphs.py sweeps brandes_forward/brandes_backward): each
# forward level is ONE join + one groupBy + one anti-join (frontier
# rows only); each backward level ONE three-way join on the
# (level, level+1) frontier slices — everything bounded by
# |seeds| x |frontier|, never all-pairs.
_BC_SEEDS = 8
_BC_MAX_HOPS = 4


def _sql_betweenness() -> str:
    ctes = [
        _SQL_EDGES.strip(),
        """nodes AS MATERIALIZED (SELECT DISTINCT src AS node FROM edges),
    seeds AS MATERIALIZED (SELECT node FROM nodes ORDER BY node LIMIT 8),
    f0 AS MATERIALIZED (SELECT node AS seed, node, CAST(1 AS BIGINT) AS sigma
          FROM seeds),
    sett0 AS MATERIALIZED (SELECT seed, node FROM f0)""",
    ]
    for k in range(1, _BC_MAX_HOPS + 1):
        ctes.append(
            f"""f{k} AS MATERIALIZED (
      SELECT f.seed, e.dst AS node, SUM(f.sigma) AS sigma
      FROM f{k - 1} f JOIN edges e ON e.src = f.node
      LEFT JOIN sett{k - 1} s ON s.seed = f.seed AND s.node = e.dst
      WHERE s.node IS NULL
      GROUP BY f.seed, e.dst
    ),
    sett{k} AS MATERIALIZED (
      SELECT seed, node FROM sett{k - 1}
      UNION ALL SELECT seed, node FROM f{k}
    )"""
        )
    # backward: delta at the deepest level is 0; walk levels down,
    # carrying the rounded delta of level k+1 into level k
    prev = None
    for k in range(_BC_MAX_HOPS - 1, 0, -1):
        succ = f"f{k + 1}"
        dterm = (
            "0.0"
            if prev is None
            else f"COALESCE(b{k + 1}.delta, 0.0)"
        )
        bjoin = (
            ""
            if prev is None
            else f"\n      LEFT JOIN b{k + 1} ON b{k + 1}.seed = f.seed"
            f" AND b{k + 1}.node = w.node"
        )
        ctes.append(
            f"""b{k} AS MATERIALIZED (
      SELECT f.seed, f.node,
             round(SUM(CAST(f.sigma AS DOUBLE) / w.sigma
                       * (1.0 + {dterm})), 12) AS delta
      FROM f{k} f
      JOIN edges e ON e.src = f.node
      JOIN {succ} w ON w.seed = f.seed AND w.node = e.dst{bjoin}
      GROUP BY f.seed, f.node
    )"""
        )
        prev = k
    deltas = "\n      UNION ALL ".join(
        f"SELECT seed, node, delta FROM b{k}"
        for k in range(1, _BC_MAX_HOPS)
    )
    return (
        "WITH "
        + ",\n    ".join(ctes)
        + f"""
    SELECT CAST(node AS BIGINT) AS s_suppkey,
           round(CAST(SUM(CAST(round(delta * 1000000000000.0, 0) AS BIGINT))
                      AS DOUBLE) / 1000000000000.0, 6) AS k_betweenness
    FROM ({deltas})
    GROUP BY node
    HAVING SUM(CAST(round(delta * 1000000000000.0, 0) AS BIGINT)) > 0
    ORDER BY s_suppkey"""
    )


@_q("betweenness_sampled", _sql_betweenness())
def q_betweenness_sampled(spark: SparkSession, sf_dir: str) -> DataFrame:
    edges, n_edges = directed_edges(_undirected_edges(spark, sf_dir))
    nodes = edges.select(F.col("src").alias("node")).distinct()
    seeds = nodes.orderBy("node").limit(_BC_SEEDS)
    levels, bound = brandes_forward(edges, n_edges, seeds, _BC_SEEDS, _BC_MAX_HOPS)
    deltas, _ = brandes_backward(edges, levels, bound)
    parts = [deltas[k] for k in sorted(deltas)]
    if not parts:  # all delta levels empty: keep the (empty) shape
        parts = [
            levels[0].select(
                "seed", "node", F.lit(0.0).alias("delta")
            ).limit(0)
        ]
    alld = reduce(lambda x, y: x.unionByName(y), parts)
    pico = F.round(F.col("delta") * 1000000000000.0, 0).cast("bigint")
    return (
        alld.select("node", pico.alias("p"))
        .groupBy(F.col("node").cast("bigint").alias("s_suppkey"))
        .agg(F.sum("p").alias("pico"))
        .where(F.col("pico") > 0)
        .select(
            "s_suppkey",
            F.round(F.col("pico").cast("double") / 1000000000000.0, 6).alias(
                "k_betweenness"
            ),
        )
        .orderBy("s_suppkey")
    )


# ---------------------------------------------------------------------------
# k-truss peeling (Cohen 2008): the edge-cohesion ladder above k-core
# — an edge survives the k-truss iff it closes >= k-2 triangles with
# OTHER surviving edges, so peeling low-support edges cascades.
# Synchronous fixed-round peeling (k = 4, support >= 2): each round
# recomputes every remaining edge's support by DEGREE-ORIENTED
# triangle enumeration — edges oriented low→high by (deg, node), the
# wedge join fans out by oriented out-degree (O(sqrt(m)) bounded,
# skew-proof on power-law graphs) and each triangle credits its 3
# canonical edges — then drops the under-supported edges; the
# trajectory (round, edges remaining, support checksum) is the
# observable, the same convention as the LPA/pagerank trajectories.
# The SQL oracle keeps the straightforward symmetrized-wedge
# formulation (per-edge common-neighbor count), which is the same
# number by definition. All counts are exact integers — no FP seam.
# localCheckpoint truncates the per-round lineage.
_TRUSS_ROUNDS = 3
_TRUSS_K = 4


def _sql_ktruss() -> str:
    ctes = [
        _SQL_EDGES.strip(),
        "t0 AS MATERIALIZED (SELECT u, v FROM eu)",
    ]
    for r in range(_TRUSS_ROUNDS):
        ctes.append(
            f"""sym{r} AS MATERIALIZED (
      SELECT u AS a, v AS b FROM t{r}
      UNION ALL SELECT v AS a, u AS b FROM t{r}
    ),
    sup{r} AS MATERIALIZED (
      SELECT e.u, e.v, COUNT(*) AS sup
      FROM t{r} e
      JOIN sym{r} s1 ON s1.a = e.u
      JOIN sym{r} s2 ON s2.a = e.v AND s2.b = s1.b
      GROUP BY e.u, e.v
    ),
    t{r + 1} AS MATERIALIZED (
      SELECT u, v FROM sup{r} WHERE sup >= {_TRUSS_K - 2}
    )"""
        )
    traj = "\n      UNION ALL ".join(
        [
            "SELECT 0 AS round, COUNT(*) AS n_edges,"
            " CAST(0 AS BIGINT) AS support_checksum FROM t0"
        ]
        + [
            f"SELECT {r + 1} AS round,"
            f" (SELECT COUNT(*) FROM t{r + 1}) AS n_edges,"
            f" CAST(COALESCE(SUM(sup), 0) AS BIGINT) AS support_checksum"
            f" FROM sup{r} WHERE sup >= {_TRUSS_K - 2}"
            for r in range(_TRUSS_ROUNDS)
        ]
    )
    return (
        "WITH "
        + ",\n    ".join(ctes)
        + f"""
    SELECT round, n_edges, support_checksum FROM ({traj}) ORDER BY round"""
    )


@_q("ktruss_peeling", _sql_ktruss())
def q_ktruss_peeling(spark: SparkSession, sf_dir: str) -> DataFrame:
    # |deg rows| <= 2*|eu| at every round (peeling only shrinks cur):
    # the edge count bounds the degree-table broadcast guard
    eu, n_eu = counted_checkpoint(_undirected_edges(spark, sf_dir))
    n_node_bound = 2 * n_eu
    snaps = [
        eu.agg(
            F.lit(0).cast("int").alias("round"),
            F.count(F.lit(1)).alias("n_edges"),
            F.lit(0).cast("bigint").alias("support_checksum"),
        )
    ]
    cur = eu
    for _ in range(_TRUSS_ROUNDS):
        # Degree-oriented triangle enumeration (Chiba–Nishizeki; the
        # cover-edge orientation in Shun & Tangwongsan PPoPP'15):
        # orient every remaining edge from lower (deg, node) to higher,
        # so each triangle is found exactly ONCE as the wedge at its
        # lowest-degree corner. The wedge join then fans out by
        # ORIENTED out-degree — O(sqrt(m)) on any graph — instead of
        # Θ(deg(hub)) per hub edge, which is what kills the naive
        # symmetrized plan on power-law graphs at scale. Each found
        # triangle credits all 3 of its canonical (u<v) edges, so the
        # per-edge support is identical to the symmetrized-wedge count
        # the SQL oracle computes.
        # one scan of cur (explode both endpoints) instead of a two-arm
        # union — same multiset of nodes, one fewer stage per round
        deg = (
            cur.select(
                F.explode(F.array(F.col("u"), F.col("v"))).alias("node")
            )
            .groupBy("node")
            .agg(F.count(F.lit(1)).alias("dg"))
        )
        # total order: (deg, node) packed into one BIGINT (node ids are
        # 32-bit suppkeys, so deg<<32 | node is collision-free)
        dk = deg.select(
            "node",
            (F.col("dg").cast("bigint") * F.lit(1 << 32) + F.col("node")).alias(
                "rk"
            ),
        ).localCheckpoint(eager=False)
        # lazy barrier: the u- and v-attach broadcasts below otherwise
        # each rebuild the degree aggregation (two identical agg
        # subtrees per round); the checkpoint runs it once
        # (node, rk) is 16 B/node of data — size-guarded broadcast so
        # the two degree-attach joins never shuffle the edge table
        # while the node count is broadcastable (guide §3.1); past
        # ~8M nodes (where the forced relation would head toward the
        # 8 GB broadcast cap) both joins degrade to shuffles.
        ek = (
            cur.join(
                broadcast_if_small(
                    dk.select(F.col("node").alias("u"), F.col("rk").alias("ru")),
                    n_node_bound,
                ),
                "u",
            )
            .join(
                broadcast_if_small(
                    dk.select(F.col("node").alias("v"), F.col("rk").alias("rv")),
                    n_node_bound,
                ),
                "v",
            )
        )
        o = ek.select(
            F.when(F.col("ru") < F.col("rv"), F.col("u"))
            .otherwise(F.col("v"))
            .alias("a"),
            F.when(F.col("ru") < F.col("rv"), F.col("v"))
            .otherwise(F.col("u"))
            .alias("b"),
            F.greatest("ru", "rv").alias("rb"),
        ).localCheckpoint(eager=False)  # read 3x: two wedge arms +
        # closer. LAZY: the wedge join's first exchange materializes it
        # in place of a dedicated eager job — one fewer job per round
        # on the round-latency-bound local profile, same single
        # evaluation.
        # explicit width on the wedge shuffle: the triangle enumeration
        # is the compute core of every round (census: 6.7 exec-sec on a
        # ~5 MB exchange that AQE's advisory sizing coalesces to 5
        # tasks — the §2.5 parallelism-first case). Hash both arms on
        # the wedge key at defaultParallelism: same rows, co-partitioned
        # join (no further exchange), full width at any core count.
        _p = spark.sparkContext.defaultParallelism
        o1 = o.select(
            F.col("a").alias("x"), F.col("b").alias("p"), F.col("rb").alias("rp")
        ).repartition(_p, "x")
        o2 = o.select(
            F.col("a").alias("y"), F.col("b").alias("q"), F.col("rb").alias("rq")
        ).repartition(_p, "y")
        closer = o.select(F.col("a").alias("ca"), F.col("b").alias("cb"))
        tris = (
            o1.join(o2, (F.col("x") == F.col("y")) & (F.col("rp") < F.col("rq")))
            .join(
                # edge-sized (<= |cur| rows, same 2|eu| guard bound):
                # broadcasting the closure side keeps the expanded
                # wedge set from re-shuffling on (p, q)
                broadcast_if_small(closer, n_node_bound),
                (F.col("ca") == F.col("p")) & (F.col("cb") == F.col("q")),
                "left_semi",
            )
            .select(F.col("x").alias("ta"), F.col("p").alias("tb"), F.col("q").alias("tc"))
        )
        sup = (
            tris.select(
                F.explode(
                    F.array(
                        F.struct(
                            F.least("ta", "tb").alias("u"),
                            F.greatest("ta", "tb").alias("v"),
                        ),
                        F.struct(
                            F.least("ta", "tc").alias("u"),
                            F.greatest("ta", "tc").alias("v"),
                        ),
                        F.struct(
                            F.least("tb", "tc").alias("u"),
                            F.greatest("tb", "tc").alias("v"),
                        ),
                    )
                ).alias("e")
            )
            .select("e.u", "e.v")
            .groupBy("u", "v")
            .agg(F.count(F.lit(1)).alias("sup"))
        )
        # lazy: read by the snapshot agg and the next round's cur; the
        # first consumer materializes it without a dedicated sync job
        keepers = sup.where(F.col("sup") >= _TRUSS_K - 2).localCheckpoint(
            eager=False
        )
        snaps.append(
            keepers.agg(
                F.lit(len(snaps)).cast("int").alias("round"),
                F.count(F.lit(1)).alias("n_edges"),
                F.coalesce(F.sum("sup"), F.lit(0)).cast("bigint").alias(
                    "support_checksum"
                ),
            )
        )
        cur = keepers.select("u", "v")
    return reduce(lambda a, b: a.unionByName(b), snaps).orderBy("round")


# ---------------------------------------------------------------------------
# HITS hubs & authorities (Kleinberg JACM'99) on the bipartite
# supplier→part supply graph: authority(p) = Σ hub(s) over suppliers
# of p, hub(s) = Σ authority(p) over parts supplied — the mutual-
# reinforcement twin of pagerank_suppliers, with the L1 normalization
# PageRank's stochastic matrix makes unnecessary. Determinism seam:
# per-round raw sums round(12) (the pagerank discipline), then the
# normalizer is a DECIMAL(20,12) sum of those rounded values — exact
# regardless of partition order — cast to double for the one division.
# Per round: two joins + two aggregations; only (node, score) rows
# move; the edge table is checkpointed once. Output: top-10 hubs +
# top-10 authorities, tie-broken (rounded score DESC, node).
_HITS_ITERS = 4


def _sql_hits() -> str:
    ctes = [
        """edges AS MATERIALIZED (
      SELECT DISTINCT l_suppkey AS s, l_partkey AS p FROM lineitem
    ),
    sup AS MATERIALIZED (SELECT DISTINCT s FROM edges),
    ns AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM sup),
    h0 AS MATERIALIZED (
      SELECT s, round(1.0 / (SELECT n FROM ns), 12) AS h FROM sup
    )"""
    ]
    for k in range(1, _HITS_ITERS + 1):
        ctes.append(
            f"""araw{k} AS MATERIALIZED (
      SELECT e.p, round(SUM(h.h), 12) AS ar
      FROM h{k - 1} h JOIN edges e ON e.s = h.s GROUP BY e.p
    ),
    sa{k} AS (SELECT CAST(SUM(CAST(ar AS DECIMAL(20,12))) AS DOUBLE) AS v
              FROM araw{k}),
    a{k} AS MATERIALIZED (
      SELECT p, round(ar / (SELECT v FROM sa{k}), 12) AS a FROM araw{k}
    ),
    hraw{k} AS MATERIALIZED (
      SELECT e.s, round(SUM(a.a), 12) AS hr
      FROM a{k} a JOIN edges e ON e.p = a.p GROUP BY e.s
    ),
    sh{k} AS (SELECT CAST(SUM(CAST(hr AS DECIMAL(20,12))) AS DOUBLE) AS v
              FROM hraw{k}),
    h{k} AS MATERIALIZED (
      SELECT s, round(hr / (SELECT v FROM sh{k}), 12) AS h FROM hraw{k}
    )"""
        )
    k = _HITS_ITERS
    return (
        "WITH "
        + ",\n    ".join(ctes)
        + f"""
    SELECT * FROM (
      SELECT 'authority' AS kind, CAST(p AS BIGINT) AS node,
             round(a, 6) AS score
      FROM a{k} ORDER BY round(a, 6) DESC, p LIMIT 10
    )
    UNION ALL
    SELECT * FROM (
      SELECT 'hub' AS kind, CAST(s AS BIGINT) AS node, round(h, 6) AS score
      FROM h{k} ORDER BY round(h, 6) DESC, s LIMIT 10
    )
    ORDER BY kind, score DESC, node"""
    )


@_q("hits_hubs_authorities", _sql_hits())
def q_hits_hubs_authorities(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem")
    edges = (
        li.select(F.col("l_suppkey").alias("s"), F.col("l_partkey").alias("p"))
        .distinct()
        .localCheckpoint(eager=True)  # read 2x per round
    )
    sup = edges.select("s").distinct()
    ns = sup.count()  # one scalar, like pagerank's n
    h = sup.select("s", F.round(F.lit(1.0 / ns), 12).alias("h"))

    def _l1_normalized(df: DataFrame, key: str, raw: str, out: str) -> DataFrame:
        tot = df.agg(
            F.sum(F.col(raw).cast("decimal(20,12)"))
            .cast("double")
            .alias("_tot")
        )
        return df.join(F.broadcast(tot)).select(
            key, F.round(F.col(raw) / F.col("_tot"), 12).alias(out)
        )

    a = None
    for _ in range(_HITS_ITERS):
        araw = (
            h.join(edges, "s")
            .groupBy("p")
            .agg(F.round(F.sum("h"), 12).alias("ar"))
        )
        a = _l1_normalized(araw, "p", "ar", "a").localCheckpoint(eager=True)
        hraw = (
            a.join(edges, "p")
            .groupBy("s")
            .agg(F.round(F.sum("a"), 12).alias("hr"))
        )
        h = _l1_normalized(hraw, "s", "hr", "h").localCheckpoint(eager=True)
    top_a = (
        a.select(
            F.lit("authority").alias("kind"),
            F.col("p").cast("bigint").alias("node"),
            F.round("a", 6).alias("score"),
        )
        .orderBy(F.desc("score"), "node")
        .limit(10)
    )
    top_h = (
        h.select(
            F.lit("hub").alias("kind"),
            F.col("s").cast("bigint").alias("node"),
            F.round("h", 6).alias("score"),
        )
        .orderBy(F.desc("score"), "node")
        .limit(10)
    )
    return top_a.unionByName(top_h).orderBy("kind", F.desc("score"), "node")


# ---------------------------------------------------------------------------
# Temporal (time-respecting) reachability — earliest-arrival
# propagation over the bipartite supplier–part contact graph
# (Holme & Saramäki, Phys. Rep. 519 (2012): a temporal path must use
# contacts with non-decreasing times). Seeds are "infected" at a
# mid-range day; a part is contaminated at the EARLIEST shipment an
# infected supplier makes on/after their infection day; a supplier is
# infected at the earliest shipment they make of a contaminated part
# on/after its contamination day. Pre-seed history cannot transmit —
# that asymmetry (vs plain reachability) is the point of the op.
# Everything is integer epoch-days with MIN merges, so every round is
# exact; per round: two equi-joins + two min-aggregations, state is
# one (node, day) row per reached node, lineage truncated per round.
# Rounds are FIXED (3 two-hop waves) — the sssp_weighted envelope:
# the report row per round makes saturation visible in the output.
_TR_ROUNDS = 3
_TR_SEED_DAY = 10592  # 1999-01-01 relative to 1970-01-01


def _sql_temporal_reach() -> str:
    ctes = [
        f"""contacts AS MATERIALIZED (
      SELECT DISTINCT l_suppkey AS s, l_partkey AS p,
             datediff('day', DATE '1970-01-01', CAST(l_shipdate AS DATE)) AS d
      FROM lineitem
    ),
    inf0 AS MATERIALIZED (
      SELECT DISTINCT s, {_TR_SEED_DAY} AS day FROM contacts WHERE s % 7 = 3
    )"""
    ]
    for k in range(1, _TR_ROUNDS + 1):
        prev_c = f"SELECT p, day FROM c{k - 1} UNION ALL " if k > 1 else ""
        ctes.append(
            f"""c{k} AS MATERIALIZED (
      SELECT p, MIN(day) AS day FROM (
        {prev_c}SELECT c.p, c.d AS day
        FROM contacts c JOIN inf{k - 1} i ON i.s = c.s AND c.d >= i.day
      ) GROUP BY p
    ),
    inf{k} AS MATERIALIZED (
      SELECT s, MIN(day) AS day FROM (
        SELECT s, day FROM inf{k - 1}
        UNION ALL
        SELECT c.s, c.d AS day
        FROM contacts c JOIN c{k} x ON x.p = c.p AND c.d >= x.day
      ) GROUP BY s
    )"""
        )
    rows = "\n    UNION ALL ".join(
        f"""SELECT {k} AS round,
           (SELECT COUNT(*) FROM inf{k}) AS n_infected,
           (SELECT COUNT(*) FROM c{k}) AS n_parts,
           (SELECT CAST(SUM(day) AS BIGINT) FROM inf{k}) AS sum_inf_day,
           (SELECT CAST(SUM(day) AS BIGINT) FROM c{k}) AS sum_part_day"""
        for k in range(1, _TR_ROUNDS + 1)
    )
    return (
        "WITH "
        + ",\n    ".join(ctes)
        + f"""
    SELECT CAST(round AS INT) AS round, n_infected, n_parts,
           sum_inf_day, sum_part_day
    FROM ({rows}) ORDER BY round"""
    )


@_q("temporal_reachability", _sql_temporal_reach())
def q_temporal_reachability(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem")
    contacts = (
        li.select(
            F.col("l_suppkey").alias("s"),
            F.col("l_partkey").alias("p"),
            F.datediff(
                F.col("l_shipdate").cast("date"),
                F.lit("1970-01-01").cast("date"),
            ).alias("d"),
        )
        .distinct()
        .localCheckpoint(eager=True)  # read twice per round
    )
    inf = (
        contacts.where(F.col("s") % 7 == 3)
        .select("s")
        .distinct()
        .withColumn("day", F.lit(_TR_SEED_DAY))
        .localCheckpoint(eager=True)
    )
    cont = None
    snaps = []
    for k in range(1, _TR_ROUNDS + 1):
        new_c = (
            contacts.join(inf.withColumnRenamed("day", "iday"), "s")
            .where(F.col("d") >= F.col("iday"))
            .select("p", F.col("d").alias("day"))
        )
        cont = (
            (cont.unionByName(new_c) if cont is not None else new_c)
            .groupBy("p")
            .agg(F.min("day").alias("day"))
            .localCheckpoint(eager=True)
        )
        new_i = (
            contacts.join(cont.withColumnRenamed("day", "cday"), "p")
            .where(F.col("d") >= F.col("cday"))
            .select("s", F.col("d").alias("day"))
        )
        inf = (
            inf.unionByName(new_i)
            .groupBy("s")
            .agg(F.min("day").alias("day"))
            .localCheckpoint(eager=True)
        )
        snaps.append(
            inf.agg(
                F.lit(k).cast("int").alias("round"),
                F.count(F.lit(1)).alias("n_infected"),
                F.sum("day").cast("bigint").alias("sum_inf_day"),
            ).join(
                cont.agg(
                    F.count(F.lit(1)).alias("n_parts"),
                    F.sum("day").cast("bigint").alias("sum_part_day"),
                )
            )
        )
    return (
        reduce(lambda x, y: x.unionByName(y), snaps)
        .select(
            "round", "n_infected", "n_parts", "sum_inf_day", "sum_part_day"
        )
        .orderBy("round")
    )


# ---------------------------------------------------------------------------
# 4-cycle (square) census — the quadrilateral tier of the motif stack
# above triangle_count (Chiba–Nishizeki 1985 counts C4 through wedge
# pairs): λ(u,w) = |common neighbors of the unordered pair| is the
# wedge multiplicity, and every square is counted once per diagonal,
# so n_squares = Σ C(λ,2) / 2 exactly. Plan: ONE wedge self-join on
# the center + ONE groupBy on the endpoint pair — exact integers
# throughout, same join skeleton the (pre-r10) triangle counter used.
# At power-law scale the wedge fan-out at hub centers is Θ(deg²);
# production mitigation is the same degree-ordering that k-truss now
# uses (enumerate wedges only at each pair's lower-degree endpoint)
# or a degree cap — documented rather than applied because the
# co-supply fixture is degree-homogeneous (max deg 189 at sf0.1).
def _sql_square_count() -> str:
    return (
        "WITH "
        + _SQL_EDGES.strip()
        + """,
    sym AS MATERIALIZED (SELECT u AS a, v AS b FROM eu
                         UNION ALL SELECT v, u FROM eu),
    wedge AS (
      SELECT s1.b AS u, s2.b AS w, COUNT(*) AS lam
      FROM sym s1 JOIN sym s2 ON s1.a = s2.a AND s1.b < s2.b
      GROUP BY s1.b, s2.b
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_diagonal_pairs,
           CAST(SUM(lam) AS BIGINT) AS n_wedges,
           CAST(SUM(CASE WHEN lam > 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_multi_pairs,
           CAST(SUM(lam * (lam - 1) // 2) // 2 AS BIGINT) AS n_squares
    FROM wedge"""
    )


@_q("square_count_c4", _sql_square_count())
def q_square_count_c4(spark: SparkSession, sf_dir: str) -> DataFrame:
    eu = _undirected_edges(spark, sf_dir)
    sym = eu.select(F.col("u").alias("a"), F.col("v").alias("b")).unionAll(
        eu.select(F.col("v").alias("a"), F.col("u").alias("b"))
    )
    s1 = sym.select(F.col("a").alias("c1"), F.col("b").alias("u"))
    s2 = sym.select(F.col("a").alias("c2"), F.col("b").alias("w"))
    wedge = (
        s1.join(s2, (F.col("c1") == F.col("c2")) & (F.col("u") < F.col("w")))
        .groupBy("u", "w")
        .agg(F.count(F.lit(1)).alias("lam"))
    )
    return wedge.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_diagonal_pairs"),
        F.sum("lam").cast("bigint").alias("n_wedges"),
        F.sum(F.when(F.col("lam") > 1, 1).otherwise(0))
        .cast("bigint")
        .alias("n_multi_pairs"),
        # integer DIV end to end: routing the halving through a double
        # division would silently lose exactness past 2^53 pair-counts
        F.expr("CAST(SUM(lam * (lam - 1) DIV 2) DIV 2 AS BIGINT)").alias(
            "n_squares"
        ),
    )


# ---------------------------------------------------------------------------
# Newman modularity of the NATION partition over the co-supply graph
# (Newman & Girvan 2004): does co-supplying cluster along supplier
# nations? Q = Σ_c (e_c/m − (d_c/2m)²); multiplying by 4m² keeps the
# whole computation on the integer lattice — per community the
# contribution is (4m·e_c − d_c²)/(4m²), one exact integer numerator
# and ONE double division at report time. Plan: one broadcast join of
# the supplier dim onto each edge endpoint, one groupBy for e_c
# (edges whose BOTH endpoints share a nation), one for d_c; all
# integers exact, no iteration.
def _sql_nation_modularity() -> str:
    return (
        "WITH "
        + _SQL_EDGES.strip()
        + """,
    m AS MATERIALIZED (SELECT COUNT(*) AS m FROM eu),
    lab AS MATERIALIZED (
      SELECT s_suppkey AS node, CAST(s_nationkey AS BIGINT) AS com
      FROM supplier
    ),
    intra AS (
      SELECT lu.com, COUNT(*) AS e_c
      FROM eu JOIN lab lu ON lu.node = eu.u
              JOIN lab lv ON lv.node = eu.v
      WHERE lu.com = lv.com GROUP BY lu.com
    ),
    degsum AS (
      SELECT l.com, COUNT(*) AS d_c
      FROM (SELECT u AS n FROM eu UNION ALL SELECT v FROM eu) e
      JOIN lab l ON l.node = e.n GROUP BY l.com
    )
    SELECT d.com AS community,
           CAST(COALESCE(i.e_c, 0) AS BIGINT) AS intra_edges,
           CAST(d.d_c AS BIGINT) AS degree_sum,
           CAST(4 * m.m * COALESCE(i.e_c, 0) - d.d_c * d.d_c AS BIGINT)
             AS q_num,
           round(CAST(4 * m.m * COALESCE(i.e_c, 0) - d.d_c * d.d_c
                      AS DOUBLE) / (4.0 * m.m * m.m), 6) AS q_contrib
    FROM degsum d LEFT JOIN intra i ON i.com = d.com CROSS JOIN m
    ORDER BY community"""
    )


@_q("nation_modularity", _sql_nation_modularity())
def q_nation_modularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    eu, m = counted_checkpoint(_undirected_edges(spark, sf_dir))  # m: edge total
    lab = t(spark, sf_dir, "supplier").select(
        F.col("s_suppkey").alias("node"),
        F.col("s_nationkey").cast("bigint").alias("com"),
    )
    lu = lab.select(F.col("node").alias("u"), F.col("com").alias("cu"))
    lv = lab.select(F.col("node").alias("v"), F.col("com").alias("cv"))
    intra = (
        eu.join(F.broadcast(lu), "u")
        .join(F.broadcast(lv), "v")
        .where(F.col("cu") == F.col("cv"))
        .groupBy(F.col("cu").alias("com"))
        .agg(F.count(F.lit(1)).alias("e_c"))
    )
    degsum = (
        eu.select(F.col("u").alias("n"))
        .unionAll(eu.select(F.col("v").alias("n")))
        .join(F.broadcast(lab.withColumnRenamed("node", "n")), "n")
        .groupBy("com")
        .agg(F.count(F.lit(1)).alias("d_c"))
    )
    qn = 4 * m * F.coalesce(F.col("e_c"), F.lit(0)) - F.col("d_c") * F.col(
        "d_c"
    )
    return (
        degsum.join(intra, "com", "left")
        .select(
            F.col("com").alias("community"),
            F.coalesce(F.col("e_c"), F.lit(0)).cast("bigint").alias(
                "intra_edges"
            ),
            F.col("d_c").cast("bigint").alias("degree_sum"),
            qn.cast("bigint").alias("q_num"),
            F.round(qn.cast("double") / (4.0 * m * m), 6).alias("q_contrib"),
        )
        .orderBy("community")
    )


# ---------------------------------------------------------------------------
# Rich-club coefficient (Zhou & Mondragón 2004): for each degree
# cutoff k, φ(k) = 2·E_{>k} / (N_{>k}(N_{>k}−1)) — how densely the
# high-degree "club" interconnects. Exact integers until one division
# per cutoff. Plan: one degree aggregation, one broadcast of the
# (node, deg) dim onto both edge endpoints, then the cutoffs ride a
# literal array — one pass over edges regardless of |cutoffs|.
def _sql_rich_club() -> str:
    return (
        "WITH "
        + _SQL_EDGES.strip()
        + """,
    deg AS MATERIALIZED (
      SELECT n, COUNT(*) AS dg
      FROM (SELECT u AS n FROM eu UNION ALL SELECT v FROM eu) GROUP BY n
    ),
    ks AS (SELECT k FROM unnest([5, 10, 20, 40]) AS t(k)),
    club_n AS (
      SELECT ks.k, COUNT(*) AS n_club
      FROM ks JOIN deg ON deg.dg > ks.k GROUP BY ks.k
    ),
    club_e AS (
      SELECT ks.k, COUNT(*) AS e_club
      FROM ks, eu
      JOIN deg du ON du.n = eu.u JOIN deg dv ON dv.n = eu.v
      WHERE du.dg > ks.k AND dv.dg > ks.k
      GROUP BY ks.k
    )
    SELECT n.k AS k_cutoff,
           CAST(n.n_club AS BIGINT) AS n_club,
           CAST(COALESCE(e.e_club, 0) AS BIGINT) AS e_club,
           CASE WHEN n.n_club > 1
                THEN round(2.0 * COALESCE(e.e_club, 0)
                           / (CAST(n.n_club AS DOUBLE) * (n.n_club - 1)), 6)
           END AS phi
    FROM club_n n LEFT JOIN club_e e ON e.k = n.k
    ORDER BY k_cutoff"""
    )


@_q("rich_club_coefficient", _sql_rich_club())
def q_rich_club_coefficient(spark: SparkSession, sf_dir: str) -> DataFrame:
    eu = _undirected_edges(spark, sf_dir).localCheckpoint(eager=True)
    deg = (
        eu.select(F.col("u").alias("n"))
        .unionAll(eu.select(F.col("v").alias("n")))
        .groupBy("n")
        .agg(F.count(F.lit(1)).alias("dg"))
    )
    ks = eu.sparkSession.createDataFrame([(5,), (10,), (20,), (40,)], "k int")
    club_n = (
        F.broadcast(ks)
        .join(deg, deg["dg"] > F.col("k"))
        .groupBy("k")
        .agg(F.count(F.lit(1)).alias("n_club"))
    )
    du = deg.select(F.col("n").alias("u"), F.col("dg").alias("du"))
    dv = deg.select(F.col("n").alias("v"), F.col("dg").alias("dv"))
    club_e = (
        eu.join(du, "u")
        .join(dv, "v")
        .crossJoin(F.broadcast(ks))
        .where((F.col("du") > F.col("k")) & (F.col("dv") > F.col("k")))
        .groupBy("k")
        .agg(F.count(F.lit(1)).alias("e_club"))
    )
    return (
        club_n.join(club_e, "k", "left")
        .select(
            F.col("k").alias("k_cutoff"),
            F.col("n_club").cast("bigint").alias("n_club"),
            F.coalesce(F.col("e_club"), F.lit(0))
            .cast("bigint")
            .alias("e_club"),
            F.when(
                F.col("n_club") > 1,
                F.round(
                    2.0
                    * F.coalesce(F.col("e_club"), F.lit(0))
                    / (
                        F.col("n_club").cast("double")
                        * (F.col("n_club") - 1)
                    ),
                    6,
                ),
            ).alias("phi"),
        )
        .orderBy("k_cutoff")
    )


# ---------------------------------------------------------------------------
# Bond-percolation robustness sweep (Callaway et al. PRL 2000, the
# random-failure side of hub_removal_resilience's targeted attacks):
# keep each edge iff its md5 uniform clears the retention threshold,
# for retention ∈ {25%, 50%, 75%}, and report components and
# giant-component share per level. Edge survival is a pure hash of
# the edge key, so the sweep is deterministic and each level's
# subgraph NESTS inside the next (75% ⊇ 50% ⊇ 25% — monotone by
# construction, pinned in tests). Components via the same
# star-contraction operator the dedup tier uses (O(log n) rounds);
# one CC run per literal level, bounded.
_PERC_LEVELS = (16384, 32768, 49152)  # of 65536: 25% / 50% / 75%


def _sql_percolation() -> str:
    per = []
    for thr in _PERC_LEVELS:
        per.append(
            f"""(
      WITH kept AS (
        SELECT u, v FROM eu
        WHERE CAST(('0x' || substring(md5(CAST(u * 7919 + v AS VARCHAR)),
                    1, 4)) AS INTEGER) < {thr}
      ),
      e2 AS (SELECT u AS s, v AS d FROM kept
             UNION ALL SELECT v, u FROM kept),
      reach AS (
        SELECT node, lbl FROM (
          WITH RECURSIVE r(node, lbl) AS (
            SELECT DISTINCT s, s FROM e2
            UNION
            SELECT e.d, r.lbl FROM r JOIN e2 e ON e.s = r.node
            WHERE r.lbl < e.d
          ) SELECT * FROM r
        )
      ),
      comp AS (SELECT node, MIN(lbl) AS c FROM reach GROUP BY node),
      sizes AS (SELECT c, COUNT(*) AS n FROM comp GROUP BY c)
      SELECT {thr} AS thr,
             CAST((SELECT COUNT(*) FROM kept) AS BIGINT) AS n_edges,
             CAST((SELECT COUNT(*) FROM comp) AS BIGINT) AS n_nodes,
             CAST((SELECT COUNT(*) FROM sizes) AS BIGINT) AS n_components,
             CAST((SELECT MAX(n) FROM sizes) AS BIGINT) AS giant_size
    )"""
        )
    u = "\n      UNION ALL ".join(per)
    return (
        "WITH "
        + _SQL_EDGES.strip()
        + f"""
    SELECT round(thr / 655.36, 0) AS retention_pct, n_edges, n_nodes,
           n_components, giant_size
    FROM ({u}) ORDER BY retention_pct"""
    )


@_q("percolation_robustness", _sql_percolation())
def q_percolation_robustness(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import connected_components_star

    eu = _undirected_edges(spark, sf_dir).localCheckpoint(eager=True)
    rows = []
    for thr in _PERC_LEVELS:
        kept = eu.where(md5_thin(7919, thr)).localCheckpoint(eager=True)
        comp = connected_components_star(kept, "u", "v")
        sizes = comp.groupBy("cluster_id").agg(F.count(F.lit(1)).alias("n"))
        rows.append(
            kept.agg(F.count(F.lit(1)).alias("n_edges")).join(
                comp.agg(F.count(F.lit(1)).alias("n_nodes"))
            ).join(
                sizes.agg(
                    F.count(F.lit(1)).alias("n_components"),
                    F.max("n").alias("giant_size"),
                )
            ).select(
                F.lit(round(thr / 655.36)).cast("double").alias(
                    "retention_pct"
                ),
                F.col("n_edges").cast("bigint"),
                F.col("n_nodes").cast("bigint"),
                F.col("n_components").cast("bigint"),
                F.col("giant_size").cast("bigint"),
            )
        )
    return reduce(lambda a, b: a.unionByName(b), rows).orderBy(
        "retention_pct"
    )


# ---------------------------------------------------------------------------
# Eigenvector centrality (Bonacich 1987) on the co-supply graph —
# completes the centrality family (degree / closeness / betweenness /
# pagerank / HITS / eigenvector): unrolled power iteration
# x ← A·x with L∞ normalization. The L∞ norm is MAX of the
# per-node rounded sums — a comparison, not a float reduction — so
# unlike HITS's L1 seam there is nothing to re-synchronize: each
# round is raw-sum → round(12) → divide by max → round(12), identical
# on both engines. Per round: one join + one aggregation over
# (node, score) rows; the edge table is checkpointed once. Output:
# top-10 nodes, (rounded score DESC, node) ties.
_EIG_ITERS = 6


def _sql_eigenvector() -> str:
    ctes = [
        _SQL_EDGES.strip(),
        """nodes AS MATERIALIZED (SELECT DISTINCT src AS node FROM edges),
    x0 AS MATERIALIZED (SELECT node, CAST(1.0 AS DOUBLE) AS x FROM nodes)""",
    ]
    for k in range(1, _EIG_ITERS + 1):
        ctes.append(
            f"""raw{k} AS MATERIALIZED (
      SELECT e.dst AS node, round(SUM(x.x), 12) AS r
      FROM x{k - 1} x JOIN edges e ON e.src = x.node GROUP BY e.dst
    ),
    m{k} AS (SELECT MAX(r) AS v FROM raw{k}),
    x{k} AS MATERIALIZED (
      SELECT node, round(r / (SELECT v FROM m{k}), 12) AS x FROM raw{k}
    )"""
        )
    return (
        "WITH "
        + ",\n    ".join(ctes)
        + f"""
    SELECT CAST(node AS BIGINT) AS s_suppkey, round(x, 6) AS eig_score
    FROM x{_EIG_ITERS}
    ORDER BY round(x, 6) DESC, node LIMIT 10"""
    )


@_q("eigenvector_centrality", _sql_eigenvector())
def q_eigenvector_centrality(spark: SparkSession, sf_dir: str) -> DataFrame:
    # |x| <= |directed edges|: the edge count bounds every round's
    # broadcast guard
    edges, n_edges = directed_edges(_undirected_edges(spark, sf_dir))
    x = edges.select(F.col("src").alias("node")).distinct().select(
        "node", F.lit(1.0).alias("x")
    )
    for _ in range(_EIG_ITERS):
        raw = aggregate_messages(
            edges, x, n_edges, F.round(F.sum("x"), 12).alias("r")
        ).localCheckpoint(eager=True)  # read by max + divide
        mx = raw.agg(F.max("r").alias("v"))
        x = raw.join(F.broadcast(mx)).select(
            "node", F.round(F.col("r") / F.col("v"), 12).alias("x")
        )
    return (
        x.select(
            F.col("node").cast("bigint").alias("s_suppkey"),
            F.round("x", 6).alias("eig_score"),
        )
        .orderBy(F.desc("eig_score"), "s_suppkey")
        .limit(10)
    )


# ---------------------------------------------------------------------------
# Edge betweenness, top-10 (Girvan & Newman PNAS 2002 — the quantity
# their community algorithm repeatedly removes): in Brandes' backward
# pass the PER-EDGE credit is the very term the node accumulation
# sums — c(v→w) = σv/σw · (1 + δw) for each tree edge into level
# k+1 — so the same forward σ / backward δ frames emit per-edge rows
# at every level INCLUDING the seed's own edges (level 0, which the
# node statistic never needs). Same determinism ladder as
# betweenness_sampled: exact integer σ, per-term round(12), cross-
# seed sums in exact picounits; same radius/seed bounds, so this too
# is EXACT at fixture scale. Edges report canonically (min, max).
def _sql_edge_betweenness() -> str:
    ctes = [
        _SQL_EDGES.strip(),
        """nodes AS MATERIALIZED (SELECT DISTINCT src AS node FROM edges),
    seeds AS MATERIALIZED (SELECT node FROM nodes ORDER BY node LIMIT 8),
    f0 AS MATERIALIZED (SELECT node AS seed, node, CAST(1 AS BIGINT) AS sigma
          FROM seeds),
    sett0 AS MATERIALIZED (SELECT seed, node FROM f0)""",
    ]
    for k in range(1, _BC_MAX_HOPS + 1):
        ctes.append(
            f"""f{k} AS MATERIALIZED (
      SELECT f.seed, e.dst AS node, SUM(f.sigma) AS sigma
      FROM f{k - 1} f JOIN edges e ON e.src = f.node
      LEFT JOIN sett{k - 1} s ON s.seed = f.seed AND s.node = e.dst
      WHERE s.node IS NULL
      GROUP BY f.seed, e.dst
    ),
    sett{k} AS MATERIALIZED (
      SELECT seed, node FROM sett{k - 1}
      UNION ALL SELECT seed, node FROM f{k}
    )"""
        )
    prev = None
    for k in range(_BC_MAX_HOPS - 1, 0, -1):
        dterm = "0.0" if prev is None else f"COALESCE(b{k + 1}.delta, 0.0)"
        bjoin = (
            ""
            if prev is None
            else f"\n      LEFT JOIN b{k + 1} ON b{k + 1}.seed = f.seed"
            f" AND b{k + 1}.node = w.node"
        )
        ctes.append(
            f"""b{k} AS MATERIALIZED (
      SELECT f.seed, f.node,
             round(SUM(CAST(f.sigma AS DOUBLE) / w.sigma
                       * (1.0 + {dterm})), 12) AS delta
      FROM f{k} f
      JOIN edges e ON e.src = f.node
      JOIN f{k + 1} w ON w.seed = f.seed AND w.node = e.dst{bjoin}
      GROUP BY f.seed, f.node
    )"""
        )
        prev = k
    # per-edge credits at every level 0..max-1 (level 0 = seed's edges)
    for k in range(0, _BC_MAX_HOPS):
        dterm = (
            f"COALESCE(b{k + 1}.delta, 0.0)"
            if k + 1 <= _BC_MAX_HOPS - 1
            else "0.0"
        )
        bjoin = (
            f"\n      LEFT JOIN b{k + 1} ON b{k + 1}.seed = f.seed"
            f" AND b{k + 1}.node = w.node"
            if k + 1 <= _BC_MAX_HOPS - 1
            else ""
        )
        ctes.append(
            f"""ec{k} AS (
      SELECT LEAST(f.node, w.node) AS eu, GREATEST(f.node, w.node) AS ev,
             round(CAST(f.sigma AS DOUBLE) / w.sigma
                   * (1.0 + {dterm}), 12) AS c
      FROM f{k} f
      JOIN edges e ON e.src = f.node
      JOIN f{k + 1} w ON w.seed = f.seed AND w.node = e.dst{bjoin}
    )"""
        )
    credits = "\n      UNION ALL ".join(
        f"SELECT eu, ev, c FROM ec{k}" for k in range(_BC_MAX_HOPS)
    )
    return (
        "WITH "
        + ",\n    ".join(ctes)
        + f"""
    SELECT * FROM (
      SELECT CAST(eu AS BIGINT) AS u, CAST(ev AS BIGINT) AS v,
             round(CAST(SUM(CAST(round(c * 1000000000000.0, 0) AS BIGINT))
                        AS DOUBLE) / 1000000000000.0, 6) AS edge_betweenness
      FROM ({credits})
      GROUP BY eu, ev
      ORDER BY round(CAST(SUM(CAST(round(c * 1000000000000.0, 0) AS BIGINT))
                          AS DOUBLE) / 1000000000000.0, 6) DESC, eu, ev
      LIMIT 10
    )"""
    )


@_q("edge_betweenness_topk", _sql_edge_betweenness())
def q_edge_betweenness_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    edges, n_edges = directed_edges(_undirected_edges(spark, sf_dir))
    nodes = edges.select(F.col("src").alias("node")).distinct()
    seeds = nodes.orderBy("node").limit(_BC_SEEDS)
    levels, bound = brandes_forward(edges, n_edges, seeds, _BC_SEEDS, _BC_MAX_HOPS)
    _, creds = brandes_backward(edges, levels, bound)
    if not creds:  # all credit levels empty: keep the (empty) shape
        creds = [
            levels[0].select(
                F.col("node").alias("eu"),
                F.col("node").alias("ev"),
                F.lit(0.0).alias("c"),
            ).limit(0)
        ]
    allc = reduce(lambda a, x: a.unionByName(x), creds)
    pico = F.sum(F.round(F.col("c") * 1e12, 0).cast("bigint"))
    return (
        allc.groupBy("eu", "ev")
        .agg(
            F.round(pico.cast("double") / 1e12, 6).alias("edge_betweenness")
        )
        .select(
            F.col("eu").cast("bigint").alias("u"),
            F.col("ev").cast("bigint").alias("v"),
            "edge_betweenness",
        )
        .orderBy(F.desc("edge_betweenness"), "u", "v")
        .limit(10)
    )


# ---------------------------------------------------------------------------
# Weighted PageRank over the co-supply graph — edges weighted by the
# number of SHARED PARTS between the two suppliers, so the walk
# prefers strong supply relationships (pagerank_suppliers treats all
# edges equally). Transition mass splits proportionally: contribution
# = r(u)·w(u,v)/W(u) with W(u) the node's total weight — exact
# integer weights, the same per-round round(12) re-sync seam as the
# unweighted oracle. Per round: one join + one groupBy over
# (node, rank) rows; weights and out-totals are checkpointed once.
_WPR_ITERS = 6
_WPR_DAMP = 0.85


def _sql_weighted_pagerank() -> str:
    d = _WPR_DAMP
    ctes = [
        """ps AS MATERIALIZED (SELECT DISTINCT l_partkey, l_suppkey
                               FROM lineitem),
    ew0 AS MATERIALIZED (
      SELECT a.l_suppkey AS u, b.l_suppkey AS v,
             COUNT(*) AS w
      FROM ps a JOIN ps b ON a.l_partkey = b.l_partkey
                         AND a.l_suppkey < b.l_suppkey
      GROUP BY a.l_suppkey, b.l_suppkey
    ),
    ew AS MATERIALIZED (
      SELECT u, v, w FROM ew0
      WHERE CAST(('0x' || substring(md5(CAST(u * 1000 + v AS VARCHAR)),
                 1, 4)) AS INTEGER) < 9830
    ),
    wedges AS MATERIALIZED (
      SELECT u AS src, v AS dst, w FROM ew
      UNION ALL SELECT v, u, w FROM ew
    ),
    nodes AS MATERIALIZED (SELECT DISTINCT src AS node FROM wedges),
    n AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM nodes),
    wout AS MATERIALIZED (
      SELECT src AS node, CAST(SUM(w) AS DOUBLE) AS wt
      FROM wedges GROUP BY src
    ),
    r0 AS MATERIALIZED (
      SELECT node, round(1.0 / (SELECT n FROM n), 12) AS rank FROM nodes
    )""",
    ]
    for k in range(_WPR_ITERS):
        ctes.append(
            f"""r{k + 1} AS MATERIALIZED (
      SELECT nd.node,
             round((1.0 - {d}) / (SELECT n FROM n)
                   + {d} * COALESCE(c.contrib, 0.0), 12) AS rank
      FROM nodes nd LEFT JOIN (
        SELECT e.dst AS node, SUM(r.rank * e.w / o.wt) AS contrib
        FROM r{k} r JOIN wedges e ON e.src = r.node
        JOIN wout o ON o.node = r.node
        GROUP BY e.dst
      ) c ON c.node = nd.node
    )"""
        )
    return (
        "WITH "
        + ",\n    ".join(ctes)
        + f"""
    SELECT CAST(node AS BIGINT) AS s_suppkey, round(rank, 6) AS wpr
    FROM r{_WPR_ITERS}
    ORDER BY round(rank, 6) DESC, node LIMIT 10"""
    )


@_q("weighted_pagerank", _sql_weighted_pagerank())
def q_weighted_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    ps = t(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_suppkey"
    ).distinct()
    ew0 = co_occurrence_pairs(ps, "l_partkey", "l_suppkey", weighted=True)
    ew = ew0.where(md5_thin(1000, EDGE_THIN_BELOW))
    wedges, _ = directed_edges(ew, "w")
    nodes = wedges.select(F.col("src").alias("node")).distinct()
    n = nodes.count()  # one scalar
    wout = wedges.groupBy(F.col("src").alias("node")).agg(
        F.sum("w").cast("double").alias("wt")
    ).localCheckpoint(eager=True)
    r = nodes.select("node", F.round(F.lit(1.0 / n), 12).alias("rank"))
    for _ in range(_WPR_ITERS):
        # broadcast the rank vector and the per-node weight totals —
        # both node metadata (see aggregate_messages), size-guarded on
        # the exact node count; the weighted edge table never
        # re-exchanges while the guard holds
        contrib = (
            wedges.join(broadcast_if_small(r, n), r["node"] == wedges["src"])
            .join(
                broadcast_if_small(
                    wout.select(F.col("node").alias("o_node"), F.col("wt")), n
                ),
                F.col("o_node") == r["node"],
            )
            .groupBy(F.col("dst").alias("cnode"))
            .agg(
                F.sum(
                    F.col("rank") * F.col("w") / F.col("wt")
                ).alias("contrib")
            )
        )
        r = (
            nodes.join(contrib, nodes["node"] == contrib["cnode"], "left")
            .select(
                "node",
                F.round(
                    F.lit((1.0 - _WPR_DAMP) / n)
                    + _WPR_DAMP * F.coalesce(F.col("contrib"), F.lit(0.0)),
                    12,
                ).alias("rank"),
            )
            # Truncate the rank vector's lineage every round (edges and
            # wout are already checkpointed): without this the plan
            # nests one join+agg layer per iteration — harmless at 6
            # iters, a replanning/lineage blow-up at 100× iteration
            # counts. Same discipline the CC star-contraction uses.
            .localCheckpoint(eager=True)
        )
    return (
        r.select(
            F.col("node").cast("bigint").alias("s_suppkey"),
            F.round("rank", 6).alias("wpr"),
        )
        .orderBy(F.desc("wpr"), "s_suppkey")
        .limit(10)
    )


# ---------------------------------------------------------------------------
# Katz centrality (Katz 1953): x_{k+1}(v) = beta + alpha * sum over
# in-neighbors of x_k — counts attenuated walks of every length, the
# prestige measure that (unlike eigenvector centrality) gives
# peripheral nodes nonzero scores via the beta offset. alpha = 0.05
# sits safely below 1/lambda_max for the co-supply graph (max degree
# 189 at sf0.1 -> lambda_max <= 189; the unrolled 6 iterations are a
# truncated Neumann series either way, with per-iteration round(12)
# as the cross-engine seam — the pagerank discipline).
_KATZ_ITERS = 6
_KATZ_ALPHA = 0.05


def _sql_katz() -> str:
    ctes = [
        _SQL_EDGES.strip(),
        """nodes AS MATERIALIZED (SELECT DISTINCT src AS node FROM edges),
    x0 AS MATERIALIZED (SELECT node, CAST(1.0 AS DOUBLE) AS x FROM nodes)""",
    ]
    for k in range(_KATZ_ITERS):
        ctes.append(
            f"""x{k + 1} AS MATERIALIZED (
      SELECT nd.node,
             round(1.0 + {_KATZ_ALPHA}
                   * COALESCE(CAST(c.s AS DOUBLE), 0.0), 12) AS x
      FROM nodes nd LEFT JOIN (
        SELECT e.dst AS node, SUM(r.x) AS s
        FROM x{k} r JOIN edges e ON e.src = r.node
        GROUP BY e.dst
      ) c ON c.node = nd.node
    )"""
        )
    return (
        "WITH "
        + ",\n    ".join(ctes)
        + f"""
    SELECT CAST(node AS BIGINT) AS s_suppkey, round(x, 6) AS katz_score
    FROM x{_KATZ_ITERS}
    ORDER BY round(x, 6) DESC, node LIMIT 10"""
    )


@_q("katz_centrality", _sql_katz())
def q_katz_centrality(spark: SparkSession, sf_dir: str) -> DataFrame:
    # |x| <= |directed edges|: the edge count bounds every round's
    # broadcast guard
    edges, n_edges = directed_edges(_undirected_edges(spark, sf_dir))
    nodes = edges.select(F.col("src").alias("node")).distinct()
    x = nodes.select("node", F.lit(1.0).alias("x"))
    for _ in range(_KATZ_ITERS):
        contrib = aggregate_messages(edges, x, n_edges, F.sum("x").alias("s"))
        x = (
            nodes.join(contrib, "node", "left")
            .select(
                "node",
                F.round(
                    F.lit(1.0)
                    + _KATZ_ALPHA * F.coalesce(F.col("s"), F.lit(0.0)),
                    12,
                ).alias("x"),
            )
            .localCheckpoint(eager=True)  # bound per-iteration lineage
        )
    return (
        x.select(
            F.col("node").cast("bigint").alias("s_suppkey"),
            F.round("x", 6).alias("katz_score"),
        )
        .orderBy(F.desc("katz_score"), "s_suppkey")
        .limit(10)
    )


# ---------------------------------------------------------------------------
# Connected-graphlet census (Przulj 2007's 2-4-node graphlet basis,
# the closed-form slice): wedges (P2), 3-paths (P3), claws (K1,3),
# and triangles in ONE degree pass + the oriented triangle count —
# no per-graphlet enumeration. Identities over exact BIGINTs:
#   wedges     = sum_v C(d_v, 2)
#   claws      = sum_v C(d_v, 3)
#   paths P3   = sum_{(u,v) in E} (d_u - 1)(d_v - 1) - 3 * triangles
# (each triangle is counted once per its 3 edges by the degree
# product). The triangle term reuses the oriented u<v<w count. At
# 100 TB this is the motif profile you can actually afford: degree
# moments are one aggregation, the edge term one broadcast join.
@_q(
    "graphlet_census",
    f"""
    WITH {_SQL_EDGES.strip()},
    deg AS MATERIALIZED (
      SELECT src AS node, COUNT(*) AS d FROM edges GROUP BY src
    ),
    tri AS (
      SELECT COUNT(*) AS t FROM eu e1
      JOIN eu e2 ON e2.u = e1.v
      JOIN eu e3 ON e3.u = e1.u AND e3.v = e2.v
    ),
    moments AS (
      SELECT CAST(SUM(CAST(d AS DECIMAL(38,0)) * (d - 1) / 2)
               AS DECIMAL(38,0)) AS wedges,
             CAST(SUM(CAST(d AS DECIMAL(38,0)) * (d - 1) * (d - 2) / 6)
               AS DECIMAL(38,0)) AS claws
      FROM deg
    ),
    epaths AS (
      SELECT CAST(SUM(CAST(du.d - 1 AS DECIMAL(38,0)) * (dv.d - 1))
               AS DECIMAL(38,0)) AS pp
      FROM eu JOIN deg du ON du.node = eu.u
              JOIN deg dv ON dv.node = eu.v
    )
    SELECT CAST((SELECT COUNT(*) FROM eu) AS BIGINT) AS n_edges,
           CAST(m.wedges AS BIGINT) AS n_wedges,
           CAST(e.pp - 3 * t.t AS BIGINT) AS n_paths3,
           CAST(m.claws AS BIGINT) AS n_claws,
           CAST(t.t AS BIGINT) AS n_triangles
    FROM moments m, epaths e, tri t
    """,
)
def q_graphlet_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    eu = _undirected_edges(spark, sf_dir).localCheckpoint(eager=True)
    edges, _ = directed_edges(eu)
    deg = edges.groupBy(F.col("src").alias("node")).agg(
        F.count(F.lit(1)).alias("d")
    )
    e1 = eu.select(F.col("u").alias("a"), F.col("v").alias("b"))
    e2 = eu.select(F.col("u").alias("b"), F.col("v").alias("c"))
    e3 = eu.select(F.col("u").alias("a2"), F.col("v").alias("c2"))
    tri = (
        e1.join(e2, "b")
        .join(e3, (F.col("a") == F.col("a2")) & (F.col("c") == F.col("c2")))
        .agg(F.count(F.lit(1)).alias("t"))
    )
    d = F.col("d")
    moments = deg.agg(
        F.sum(d.cast("decimal(38,0)") * (d - 1) / 2)
        .cast("decimal(38,0)")
        .alias("wedges"),
        F.sum(d.cast("decimal(38,0)") * (d - 1) * (d - 2) / 6)
        .cast("decimal(38,0)")
        .alias("claws"),
    )
    du = deg.select(F.col("node").alias("u"), F.col("d").alias("du"))
    dv = deg.select(F.col("node").alias("v"), F.col("d").alias("dv"))
    epaths = (
        eu.join(F.broadcast(du), "u")
        .join(F.broadcast(dv), "v")
        .agg(
            F.sum(
                (F.col("du") - 1).cast("decimal(38,0)") * (F.col("dv") - 1)
            )
            .cast("decimal(38,0)")
            .alias("pp")
        )
    )
    ne = eu.agg(F.count(F.lit(1)).alias("ne"))
    return (
        moments.crossJoin(F.broadcast(epaths))
        .crossJoin(F.broadcast(tri))
        .crossJoin(F.broadcast(ne))
        .select(
            F.col("ne").cast("bigint").alias("n_edges"),
            F.col("wedges").cast("bigint").alias("n_wedges"),
            (F.col("pp") - 3 * F.col("t")).cast("bigint").alias("n_paths3"),
            F.col("claws").cast("bigint").alias("n_claws"),
            F.col("t").cast("bigint").alias("n_triangles"),
        )
    )


# ---------------------------------------------------------------------------
# Minimax (bottleneck) path — widest-path routing's min-max dual: the
# cheapest possible WORST edge on any path from the seed set, the
# quantity capacity/reliability routing optimizes (and the exact
# single-linkage merge height of the seed cluster). Same fixed-round
# level-synchronous envelope as sssp_weighted with the (min, max)
# semiring replacing (min, +): relax cand = greatest(dist(u), w),
# combine MIN. Monotone and bounded by the max edge weight, so the
# fixed unroll converges like sssp's. 100 TB: one edge join + one
# groupBy per round, frontier bounded by |nodes| — no pair blowup.
def _sql_minimax() -> str:
    ctes = [
        _SQL_EDGES.strip().rstrip(),
        _SQL_WEDGES.strip().rstrip(),
        """b0 AS MATERIALIZED (
      SELECT DISTINCT src AS node, CAST(0 AS BIGINT) AS bneck
      FROM edgesw WHERE src % 20 = 0)""",
    ]
    for k in range(_SSSP_ROUNDS):
        ctes.append(
            f"""b{k + 1} AS MATERIALIZED (
      SELECT node, MIN(bneck) AS bneck FROM (
        SELECT node, bneck FROM b{k}
        UNION ALL
        SELECT e.dst AS node, greatest(d.bneck, e.w) AS bneck
        FROM b{k} d JOIN edgesw e ON e.src = d.node
      ) GROUP BY node
    )"""
        )
    return (
        "WITH "
        + ",\n    ".join(ctes)
        + f"""
    SELECT node AS s_suppkey, CAST(bneck AS BIGINT) AS bottleneck
    FROM b{_SSSP_ROUNDS}
    """
    )


@_q("minimax_path_bottleneck", _sql_minimax())
def q_minimax_path_bottleneck(spark: SparkSession, sf_dir: str) -> DataFrame:
    dist = _relax_from_seeds(
        spark, sf_dir, "bneck", F.greatest(F.col("bneck"), F.col("w"))
    )
    return dist.select(F.col("node").alias("s_suppkey"), F.col("bneck").alias("bottleneck"))


# ---------------------------------------------------------------------------
# Bipartiteness certificate from BFS layering: with exact min-hop
# layers, an undirected graph restricted to the reached ball has an
# odd cycle IFF some edge joins two nodes of the SAME layer parity
# (BFS layers differ by at most 1 across an edge, so same parity =
# same layer). Census: edges whose endpoints are both reached, split
# into cross-layer vs conflict (same-parity) witnesses. The layering
# is bfs_hop_distance's: bfs_levels from the same seeds, cap 6 — past
# the fixture graph's eccentricity; both engines compute the identical
# capped min-hop layering either way. 100 TB: layering is one frontier
# join per level; the census is one broadcast-free equi-join of the
# edge list against the (node, hop) table — linear in edges.
def _sql_bipartite() -> str:
    return f"""
    WITH RECURSIVE {_SQL_EDGES.strip()},
    nodes AS (SELECT DISTINCT src AS node FROM edges),
    reach(node, hop) AS (
      SELECT node, 0 FROM nodes WHERE node % 10 = 0
      UNION
      SELECT e.dst, r.hop + 1
      FROM reach r JOIN edges e ON e.src = r.node
      WHERE r.hop < {_BFS_MAX_HOPS}
    ),
    layer AS (SELECT node, MIN(hop) AS hop FROM reach GROUP BY node),
    census AS (
      SELECT COUNT(*) AS n_edges_reached,
             SUM(CASE WHEN (a.hop + b.hop) % 2 = 0 THEN 1 ELSE 0 END)
               AS n_conflict
      FROM eu e JOIN layer a ON a.node = e.u
                JOIN layer b ON b.node = e.v
    )
    SELECT CAST((SELECT COUNT(*) FROM layer) AS BIGINT) AS n_reached,
           CAST(n_edges_reached AS BIGINT) AS n_edges_reached,
           CAST(n_conflict AS BIGINT) AS n_conflict_edges,
           CAST(CASE WHEN n_conflict = 0 THEN 1 ELSE 0 END AS BIGINT)
             AS is_bipartite
    FROM census
    """


@_q("graph_bipartite_check", _sql_bipartite())
def q_graph_bipartite_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    eu = _undirected_edges(spark, sf_dir).localCheckpoint(eager=True)
    edges, _ = directed_edges(eu)
    nodes = edges.select(F.col("src").alias("node")).distinct()
    dist = bfs_levels(edges, nodes.where(F.col("node") % 10 == 0), _BFS_MAX_HOPS)
    la = dist.select(F.col("node").alias("u"), F.col("d").alias("ha"))
    lb = dist.select(F.col("node").alias("v"), F.col("d").alias("hb"))
    census = (
        eu.join(la, "u")
        .join(lb, "v")
        .agg(
            F.count(F.lit(1)).alias("n_edges_reached"),
            F.sum(
                F.when((F.col("ha") + F.col("hb")) % 2 == 0, 1).otherwise(0)
            ).alias("n_conflict"),
        )
    )
    nr = dist.agg(F.count(F.lit(1)).alias("n_reached"))
    return census.crossJoin(F.broadcast(nr)).select(
        F.col("n_reached").cast("bigint").alias("n_reached"),
        F.col("n_edges_reached").cast("bigint").alias("n_edges_reached"),
        F.col("n_conflict").cast("bigint").alias("n_conflict_edges"),
        F.when(F.col("n_conflict") == 0, F.lit(1))
        .otherwise(F.lit(0))
        .cast("bigint")
        .alias("is_bipartite"),
    )


# ---------------------------------------------------------------------------
# Strongly connected components of the brand-transition digraph (r14):
# edge A -> B when some customer's consecutive orders (by date, then
# orderkey) carry representative brands A then B. The 100 TB shape:
# graph EXTRACTION is the heavy, fully distributed part (lineitem
# join + per-customer ordering window); the SCC itself runs on the
# DOMAIN-BOUNDED 25-brand node set, where pairwise reachability via
# iterative doubling costs nothing and is exact. scc_id(v) = min
# brand u with v->u AND u->v reachability (the canonical member).
# The DuckDB twin is a recursive-CTE closure — set semantics, so both
# engines agree exactly. Output: brand, scc_id, scc_size.
@_q(
    "brand_transition_scc",
    """
    WITH rep AS (
      SELECT l.l_orderkey AS ok, min(p.p_brand) AS brand
      FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
      GROUP BY 1
    ),
    seq AS (
      SELECT o.o_custkey AS c, r.brand,
             lead(r.brand) OVER (PARTITION BY o.o_custkey
                                 ORDER BY o.o_orderdate, o.o_orderkey)
               AS nxt
      FROM orders o JOIN rep r ON r.ok = o.o_orderkey
    ),
    edges AS (
      SELECT DISTINCT brand AS s, nxt AS t FROM seq WHERE nxt IS NOT NULL
    ),
    nodes AS (
      SELECT DISTINCT s AS v FROM edges
      UNION SELECT DISTINCT t FROM edges
    ),
    reach AS (
      WITH RECURSIVE r(s, t) AS (
        SELECT v, v FROM nodes
        UNION
        SELECT r.s, e.t FROM r JOIN edges e ON e.s = r.t
      )
      SELECT * FROM r
    ),
    scc AS (
      SELECT f.s AS brand, min(f.t) AS scc_id
      FROM reach f JOIN reach b ON b.s = f.t AND b.t = f.s
      GROUP BY 1
    )
    SELECT brand, scc_id,
           CAST(COUNT(*) OVER (PARTITION BY scc_id) AS BIGINT) AS scc_size
    FROM scc ORDER BY brand
    """,
)
def q_brand_transition_scc(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    li = t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    pt = t(spark, sf_dir, "part").select("p_partkey", "p_brand")
    rep = (
        li.join(F.broadcast(pt), li["l_partkey"] == pt["p_partkey"])
        .groupBy(F.col("l_orderkey").alias("ok"))
        .agg(F.min("p_brand").alias("brand"))
    )
    o = t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderdate"
    )
    seq = o.join(rep, o["o_orderkey"] == rep["ok"]).select(
        "o_custkey",
        "brand",
        F.lead("brand")
        .over(
            W.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
        )
        .alias("nxt"),
    )
    edges = (
        seq.where(F.col("nxt").isNotNull())
        .select(F.col("brand").alias("s"), F.col("nxt").alias("t"))
        .distinct()
        .localCheckpoint(eager=True)  # <= 625 rows, reused every iteration
    )
    nodes = (
        edges.select(F.col("s").alias("v"))
        .union(edges.select("t"))
        .distinct()
    )
    # iterative doubling on the bounded node set: reach = reach o edges
    reach, prev = counted_checkpoint(
        nodes.select(F.col("v").alias("s"), F.col("v").alias("t"))
        .union(edges)
        .distinct()
    )
    while True:
        step = (
            reach.alias("r")
            .join(edges.alias("e"), F.col("r.t") == F.col("e.s"))
            .select(F.col("r.s").alias("s"), F.col("e.t").alias("t"))
        )
        reach, cur = counted_checkpoint(reach.union(step).distinct())
        if cur == prev:
            break
        prev = cur
    fwd = reach.select(F.col("s").alias("fs"), F.col("t").alias("ft"))
    bwd = reach.select(F.col("s").alias("bs"), F.col("t").alias("bt"))
    scc = (
        fwd.join(
            bwd,
            (F.col("bs") == F.col("ft")) & (F.col("bt") == F.col("fs")),
        )
        .groupBy(F.col("fs").alias("brand"))
        .agg(F.min("ft").alias("scc_id"))
    )
    wsz = W.partitionBy("scc_id")
    return (
        scc.select(
            "brand",
            "scc_id",
            F.count(F.lit(1)).over(wsz).cast("bigint").alias("scc_size"),
        )
        .orderBy("brand")
    )
