"""Distributed graph primitives on edge DataFrames.

Triangle counting via the oriented three-way self-join. The edge set
is undirected, held canonically as (u, v) with u < v; counting
orients each edge and joins path wedges (a→b, b→c) against the
closing edge (a→c), so every triangle is produced exactly once at
its lowest-rank vertex.

Orientation is the scale lever: with ID order, a hub vertex whose id
sits mid-range has both in- and out-edges, generating
indeg·outdeg = O(d²) wedge candidates at the join. Orienting by
(degree, id) — every edge points from its lower-degree endpoint to
its higher-degree endpoint — makes hubs sinks: their out-degree under
this orientation is bounded by O(√m) (a vertex with out-degree k has
k neighbors of degree ≥ its own, each contributing ≥ that many edge
endpoints), so total wedge candidates fall from Σd² to O(m^1.5), the
standard bound (Suri & Vassilvitskii, "Counting Triangles and the
Curse of the Last Reducer", WWW'11 — public literature). The triangle
COUNT is orientation-invariant; only the intermediate size changes.

Reference parity: the reference has no graph engine; this backs the
registry's `triangle_count` query (co-supplier graph).

Within-group pairs (`co_occurrence_pairs`) are the edge source of every
co-occurrence graph in the registry — suppliers sharing a part,
customers sharing a part, parts sharing an order — built once per group
as a sorted-array combination behind one per-group fan-out bound, and
thinned to realistic sparsity by one md5 bucket predicate (`md5_thin`).

Graph rounds. These helpers own the policy of the iterative graph tier,
so a change to it lands once instead of at every loop. Every checkpoint
they take is an eager `localCheckpoint(eager=True)`, and every row count
that bounds a broadcast or ends a loop is observed by the checkpoint job
that materializes the frame (`spread.counted_checkpoint`), never by a
second job:

- `directed_edges` symmetrizes undirected (u, v, *carry) edges into
  (src, dst, *carry) with `unionByName` and materializes them — every
  caller reads the table more than once — and returns the row count;
- `aggregate_messages` is one neighbour-aggregation round: the
  per-round node vector joins the edge table behind the size-guarded
  broadcast (`broadcast_if_small`) and the messages group by dst;
- `relax_min` runs fixed min-relaxation rounds (union the offers with
  the held values, keep the min per node) behind the same guard;
- `bfs_levels` is the level-synchronous frontier loop: one edge join,
  a distinct and an anti-join against the settled set per level, a
  checkpoint per level that also counts the frontier
  (`counted_checkpoint`, one job) and an early exit on an empty
  frontier;
- `brandes_forward` / `brandes_backward` are the two sweeps of
  Brandes' betweenness from a seed set: shortest-path counts sigma per
  BFS level, then the dependency join that yields both the per-node
  deltas and the per-edge credits;
- `functional_closure` is the pointer-doubling closure of a functional
  graph; its loop ends on the observed count of the 2^k-jump table.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .spread import broadcast_if_small, counted_checkpoint, full_width

# Per-group fan-out bound for the within-group pair expansion. The
# expansion's output is Θ(fanout²) per group key, all landing in ONE
# task for that key — fine while the fixture is degree-homogeneous (max
# 189 co-suppliers per part at sf0.1, PLANS.md), quadratic-in-one-task
# at 100× if a hub group appears. The guard makes that assumption LOUD:
# a size() check on the grouped member array raises instead of letting
# a hot group melt an executor. Production mitigations once the bound
# trips: salt the hot groups (replicate one side R ways, slice the
# other — the salted_skew_join discipline) or degree-cap/sample per
# group.
_PK_FANOUT_BOUND = 4096

# md5 bucket threshold that thins the co-supplier graph to realistic
# sparsity: 9830/65536 ≈ 15% of pairs kept (the unthinned graph is
# complete — every supplier pair shares some part in the fixture).
EDGE_THIN_BELOW = 9830


def md5_thin(mult: int, below: int) -> Column:
    """Deterministic pair sample over (u, v): keep the pair iff the
    first 4 hex digits of md5(str(u * mult + v)) are < `below` (of
    65536). The SQL oracles spell the same predicate as
    CAST(('0x' || substring(md5(...), 1, 4)) AS INTEGER) < below."""
    bucket = F.conv(
        F.substring(
            F.md5((F.col("u") * mult + F.col("v")).cast("string")), 1, 4
        ),
        16,
        10,
    ).cast("int")
    return bucket < below


def co_occurrence_pairs(
    df: DataFrame, group: str, member: str, *, weighted: bool = False
) -> DataFrame:
    """Distinct pairs (u, v), u < v, of `member` values that share a
    `group` value; with weighted=True, (u, v, w) where w is the number
    of groups the pair shares.

    Sorted-array combination instead of a group self-join: each
    group's distinct members become one sorted array, exploded as
    (us[i], us[j>i]). The sorted array makes u < v structural and emits
    each pair once per shared group (the self-join emitted both orders
    and filtered half, 14M rows -> 7M on the co-supplier graph at
    sf0.1), with two Generate operators instead of sort-merge-join
    machinery, and the fan-out guard is a size() check on the
    already-built array (census: pair production 5.2 -> 2.3 exec-sec,
    §2.1/§2.3). Pair volume is Σ|group|², never |members|².

    Explicit width on the grouping exchange: this small shuffle carries
    the quadratic expansion downstream, so AQE's byte-based coalescing
    would serialize it onto a handful of tasks (5 of 32 at sf0.1) —
    the §2.5 parallelism-first case."""
    elem = dict(df.dtypes)[member]
    grouped = (
        df.select(F.col(group).alias("pk"), F.col(member).alias("u"))
        .repartition(full_width(df.sparkSession), "pk")
        .groupBy("pk")
        .agg(F.sort_array(F.collect_set("u")).alias("us"))
    )
    # the raise is folded into the exploded column so pruning cannot
    # drop it. NOTE the shape: when(violated, raise_error).otherwise(col)
    # — the tempting assert_true(...).isNull() form is erased by
    # Catalyst (AssertTrue is NullType, so NullPropagation folds
    # IsNull(it) to literal TRUE and the check vanishes).
    guarded = grouped.select(
        F.when(
            F.size("us") > _PK_FANOUT_BOUND,
            F.raise_error(
                F.concat(
                    F.lit(
                        "within-group pair expansion: per-group fan-out "
                        f"exceeds {_PK_FANOUT_BOUND} (got "
                    ),
                    F.size("us").cast("string"),
                    F.lit("); salt or degree-cap hot groups before pairing"),
                )
            ).cast(f"array<{elem}>"),
        )
        .otherwise(F.col("us"))
        .alias("us")
    )
    pairs = guarded.select(
        F.posexplode("us").alias("i", "u"), F.col("us")
    ).select(
        "u",
        F.explode(F.slice("us", F.col("i") + F.lit(2), F.size("us"))).alias("v"),
    )
    if weighted:
        return pairs.groupBy("u", "v").agg(F.count(F.lit(1)).alias("w"))
    return pairs.distinct()


def directed_edges(eu: DataFrame, *carry: str) -> tuple[DataFrame, int]:
    """Both directions (src, dst, *carry) of undirected (u, v, *carry)
    edges, eagerly checkpointed, and their row count: every caller
    reads its edge table more than once (each round of a loop, or
    several branches of one plan), so the edge build runs once instead
    of per read. The count, observed by the checkpoint job, bounds
    every node vector of the graph (each node is a src)."""
    return counted_checkpoint(
        eu.select(F.col("u").alias("src"), F.col("v").alias("dst"), *carry)
        .unionByName(
            eu.select(F.col("v").alias("src"), F.col("u").alias("dst"), *carry)
        )
    )


def aggregate_messages(
    edges: DataFrame,
    vec: DataFrame,
    bound: int,
    *aggs: Column,
    by: str | Sequence[str] = (),
) -> DataFrame:
    """One neighbour-aggregation round: every node of the per-round
    vector `vec` (keyed by `node`) sends its columns along its out-edges
    (`src` -> `dst`), and the messages aggregate per (dst AS node, *by).

    The vector is broadcast behind the size guard (`bound` is an upper
    bound on its row count) — node metadata, so while the guard holds
    the edge table never re-exchanges and only the per-dst aggregate
    shuffles (guide §2.4/§3.1)."""
    by = [by] if isinstance(by, str) else list(by)
    return (
        edges.join(broadcast_if_small(vec, bound), vec["node"] == edges["src"])
        .groupBy(F.col("dst").alias("node"), *by)
        .agg(*aggs)
    )


def bfs_levels(
    edges: DataFrame,
    start: DataFrame,
    max_hops: int,
    keys: Sequence[str] = ("node",),
) -> DataFrame:
    """Level-synchronous BFS over directed (src, dst) edges from the
    `start` rows; returns (*keys, d), the min-hop distance of every row
    reached within `max_hops`. `keys` must contain "node"; the other
    keys ride along unchanged, so keys=("seed", "node") runs one BFS
    per seed in the same loop.

    Per level: ONE edge join, a distinct, and an anti-join against the
    settled set — rows in flight are only the frontier. Each level is
    an eager checkpoint that also counts the frontier
    (`counted_checkpoint`), and the loop stops at the first empty
    frontier."""
    keys = list(keys)
    carried = [k for k in keys if k != "node"]
    dist = start.select(*keys, F.lit(0).cast("bigint").alias("d")).localCheckpoint(
        eager=True
    )
    frontier = dist.select(*keys)
    for k in range(1, max_hops + 1):
        nxt, rows = counted_checkpoint(
            frontier.join(edges, frontier["node"] == edges["src"])
            .select(*carried, F.col("dst").alias("node"))
            .distinct()
            .join(dist.select(*keys), keys, "left_anti")
            .withColumn("d", F.lit(k).cast("bigint"))
        )
        if rows == 0:
            break
        dist = dist.unionByName(nxt).localCheckpoint(eager=True)
        frontier = nxt.select(*keys)
    return dist


def relax_min(
    edges: DataFrame,
    dist: DataFrame,
    col: str,
    step: Column,
    rounds: int,
    bound: int,
) -> DataFrame:
    """`rounds` synchronous min-relaxation rounds of the per-node value
    `col` of `dist` (node, col) over directed (src, dst, *carry) edges:
    each node offers `step` (an expression over its `col` and the edge
    columns) to every dst, and each node keeps the min of what it holds
    and what it is offered — Bellman-Ford for step = col + w, the
    minimax bottleneck for step = greatest(col, w).

    Per round: the value vector joins the edge table behind the size
    guard (`bound` is an upper bound on its row count), one union, one
    min per node and a checkpoint; the edge table never re-exchanges
    while the guard holds."""
    for _ in range(rounds):
        relaxed = edges.join(
            broadcast_if_small(dist, bound), dist["node"] == edges["src"]
        ).select(F.col("dst").alias("node"), step.alias(col))
        dist = (
            dist.unionByName(relaxed)
            .groupBy("node")
            .agg(F.min(col).alias(col))
            .localCheckpoint(eager=True)
        )
    return dist


def brandes_forward(
    edges: DataFrame, n_edges: int, seeds: DataFrame, max_seeds: int, max_hops: int
) -> tuple[list[DataFrame], int]:
    """Forward sweep of Brandes' betweenness: BFS levels from every
    `seeds` row (column `node`, at most `max_seeds` rows) over the
    `n_edges` directed (src, dst) edges of `directed_edges`, with sigma
    = the number of shortest paths from the seed. Returns (levels,
    bound): levels[k] is the (seed, node, sigma) frontier at hop k, for
    k up to `max_hops` or up to the last non-empty level, whichever
    comes first; bound is the row bound of every frontier, settled set
    and delta table.

    Per level: ONE edge join, sigma summed per (seed, dst), and an
    anti-join against the settled set; each level is a checkpoint that
    also counts the frontier (`counted_checkpoint`). An empty frontier
    ends the sweep: every deeper level, and every backward delta that
    joins through it, is empty too.

    Every frontier/settled/delta table is bounded by seeds x |nodes|
    <= max_seeds x n_edges rows; they are size-guard broadcast so the
    checkpointed edge table never re-exchanges per level (§3.1; above
    the bound the hint is dropped and the shuffle join degrades
    gracefully)."""
    levels = [
        seeds.select(
            F.col("node").alias("seed"),
            "node",
            F.lit(1).cast("bigint").alias("sigma"),
        ).localCheckpoint(eager=True)
    ]
    settled = levels[0].select("seed", "node").localCheckpoint(eager=True)
    bound = max_seeds * n_edges
    for _ in range(max_hops):
        f = levels[-1]
        nxt, rows = counted_checkpoint(
            broadcast_if_small(f, bound)
            .join(edges, f["node"] == edges["src"])
            .groupBy("seed", F.col("dst").alias("node"))
            .agg(F.sum("sigma").alias("sigma"))
            .join(broadcast_if_small(settled, bound), ["seed", "node"], "left_anti")
        )
        if rows == 0:
            break
        levels.append(nxt)
        settled = settled.unionByName(nxt.select("seed", "node")).localCheckpoint(
            eager=True
        )
    return levels, bound


def brandes_backward(
    edges: DataFrame, levels: list[DataFrame], bound: int
) -> tuple[dict[int, DataFrame], list[DataFrame]]:
    """Backward sweep of Brandes' betweenness over the `levels` and
    `bound` of `brandes_forward`. Returns (deltas, credits):

    - deltas[k], k >= 1: (seed, node, delta) with delta(v) =
      round(sum_w sigma_v/sigma_w * (1 + delta_w), 12) over the tree
      edges v -> w into level k+1 — one checkpoint per level, deepest
      first (the per-level round(12) keeps both engines on one
      trajectory);
    - credits[k], k >= 0 (level 0 = the seeds' own edges): (eu, ev, c),
      the per-edge term c(v -> w) = round(sigma_v/sigma_w * (1 +
      delta_w), 12) of every tree edge into level k+1, the edge
      canonical as (min, max). Lazy: they run only if read.

    Per level, ONE dependency join f[k] ⋈ edges ⋈ f[k+1] ⟕ deltas[k+1]
    feeds both, every side but the edge table size-guard broadcast."""
    deltas: dict[int, DataFrame] = {}
    credits: list[DataFrame] = []
    for k in range(len(levels) - 2, -1, -1):
        f = levels[k]
        w = levels[k + 1].select(
            F.col("seed").alias("w_seed"),
            F.col("node").alias("w_node"),
            F.col("sigma").alias("w_sigma"),
        )
        j = (
            broadcast_if_small(f, bound)
            .join(edges, f["node"] == edges["src"])
            .join(
                broadcast_if_small(w, bound),
                (F.col("w_seed") == F.col("seed"))
                & (F.col("w_node") == F.col("dst")),
            )
        )
        if k + 1 in deltas:
            bd = deltas[k + 1].select(
                F.col("seed").alias("b_seed"),
                F.col("node").alias("b_node"),
                F.col("delta").alias("b_delta"),
            )
            j = j.join(
                broadcast_if_small(bd, bound),
                (F.col("b_seed") == F.col("seed"))
                & (F.col("b_node") == F.col("w_node")),
                "left",
            )
            dterm = F.coalesce(F.col("b_delta"), F.lit(0.0))
        else:
            dterm = F.lit(0.0)
        t = F.col("sigma").cast("double") / F.col("w_sigma") * (1.0 + dterm)
        credits.insert(
            0,
            j.select(
                F.least(f["node"], F.col("w_node")).alias("eu"),
                F.greatest(f["node"], F.col("w_node")).alias("ev"),
                F.round(t, 12).alias("c"),
            ),
        )
        if k >= 1:
            deltas[k] = (
                j.groupBy("seed", "node")
                .agg(F.round(F.sum(t), 12).alias("delta"))
                .localCheckpoint(eager=True)
            )
    return deltas, credits


def vertex_degrees(edges: DataFrame) -> DataFrame:
    """Degree of every vertex of an undirected (u, v) edge set.
    One map-side-combinable aggregation over 2·m endpoint rows."""
    return (
        edges.select(F.col("u").alias("x"))
        .unionAll(edges.select(F.col("v").alias("x")))
        .groupBy("x")
        .agg(F.count(F.lit(1)).alias("deg"))
    )


def orient_edges(edges: DataFrame, by_degree: bool = True) -> DataFrame:
    """Orient undirected (u, v) edges into directed (s, d) edges.

    by_degree=True (the scale default) points each edge at its
    higher-(degree, id) endpoint; False keeps id order (s=u, d=v,
    requires u < v canonical form). Output schema: (s, d).
    """
    if not by_degree:
        return edges.select(F.col("u").alias("s"), F.col("v").alias("d"))
    deg = vertex_degrees(edges)
    ed = edges.join(
        deg.select(F.col("x").alias("u"), F.col("deg").alias("du")), "u"
    ).join(deg.select(F.col("x").alias("v"), F.col("deg").alias("dv")), "v")
    u_first = (F.col("du") < F.col("dv")) | (
        (F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))
    )
    return ed.select(
        F.when(u_first, F.col("u")).otherwise(F.col("v")).alias("s"),
        F.when(u_first, F.col("v")).otherwise(F.col("u")).alias("d"),
    )


def wedge_count(oriented: DataFrame) -> int:
    """Number of path-wedge candidates (a→b, b→c) the triangle join
    materializes for a given orientation — Σ_b indeg(b)·outdeg(b).
    Diagnostic for tests/planning; computed from two degree aggs,
    never by materializing the wedges."""
    outd = oriented.groupBy(F.col("s").alias("x")).agg(
        F.count(F.lit(1)).alias("outdeg")
    )
    ind = oriented.groupBy(F.col("d").alias("x")).agg(
        F.count(F.lit(1)).alias("indeg")
    )
    row = (
        ind.join(outd, "x")
        .agg(F.sum(F.col("indeg") * F.col("outdeg")).alias("w"))
        .collect()[0]
    )
    return int(row["w"] or 0)


def oriented_triangle_count(edges: DataFrame, by_degree: bool = True) -> DataFrame:
    """Count triangles of an undirected (u, v) edge set (u < v).
    Returns a 1-row DataFrame (n_edges, n_triangles)."""
    # the oriented edge set feeds all three join branches —
    # materialize once instead of re-running the orientation joins
    o = orient_edges(edges, by_degree=by_degree).localCheckpoint(eager=True)
    e1 = o.select(F.col("s").alias("a1"), F.col("d").alias("b1"))
    e2 = o.select(F.col("s").alias("b2"), F.col("d").alias("c2"))
    e3 = o.select(F.col("s").alias("a3"), F.col("d").alias("c3"))
    tri = (
        e1.join(e2, F.col("b1") == F.col("b2"))
        .join(e3, (F.col("a1") == F.col("a3")) & (F.col("c2") == F.col("c3")))
        .agg(F.count(F.lit(1)).alias("n_triangles"))
    )
    return edges.agg(F.count(F.lit(1)).alias("n_edges")).crossJoin(tri)


def oriented_triangles(edges: DataFrame, by_degree: bool = True) -> DataFrame:
    """Materialize each triangle of an undirected (u, v) edge set
    exactly once as its vertex triple (a, b, c). Same oriented wedge
    join as oriented_triangle_count — the orientation bounds the
    intermediate, and the output triple is the triangle's vertex SET
    (order carries no meaning)."""
    o = orient_edges(edges, by_degree=by_degree).localCheckpoint(eager=True)
    e1 = o.select(F.col("s").alias("a1"), F.col("d").alias("b1"))
    e2 = o.select(F.col("s").alias("b2"), F.col("d").alias("c2"))
    e3 = o.select(F.col("s").alias("a3"), F.col("d").alias("c3"))
    return (
        e1.join(e2, F.col("b1") == F.col("b2"))
        .join(e3, (F.col("a1") == F.col("a3")) & (F.col("c2") == F.col("c3")))
        .select(
            F.col("a1").alias("a"), F.col("b1").alias("b"), F.col("c2").alias("c")
        )
    )


def functional_closure(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_pow: int = 20,
    stats: dict | None = None,
) -> DataFrame:
    """Descendant closure of a FUNCTIONAL graph — out-degree ≤ 1,
    acyclic (a forest of paths/trees pointing at roots, e.g. a D8
    hydrology flow grid, a parent-pointer hierarchy, a next-version
    chain). Output: every ``(src, dst)`` pair with ``dst`` strictly
    downstream of ``src``.

    Pointer doubling, NOT wavefront: ``close`` holds all pairs at
    distance in [1, 2^k] and ``far`` the node at distance exactly 2^k;
    each round composes both with themselves, so a maximum path length
    of L needs ceil(log2 L) rounds — a 53-step flow path closes in 6
    rounds where per-hop propagation (the recursive-CTE shape) takes
    53. Each round is two equi-joins + a union, lineage truncated by
    localCheckpoint; convergence = ``far`` empty (every 2^k-jump ran
    off the end of its path), read from the row count its checkpoint
    job observes (`counted_checkpoint`) — no probe job per round. An
    empty edge set returns empty after 0 rounds.

    Unique-decomposition invariant: out-degree ≤ 1 means every
    (ancestor, descendant) pair has exactly ONE distance, and the
    round-k extension emits exactly the pairs at distance in
    (2^k, 2^(k+1)] — so ``close`` never holds duplicates and needs no
    distinct().

    Scale envelope: the closure itself is the output — O(sum of path
    lengths) rows. Right whenever downstream consumers need per-pair
    rows (accumulation counts, ancestry joins) and path lengths are
    bounded (drainage basins, org charts, version chains). For
    million-step chains where only aggregates are needed, the
    contraction family (Euler-tour / tree contraction) replaces the
    closure; documented rather than implemented — no registry caller
    has that shape. Exhausting ``max_pow`` (default depth 2^20) raises:
    a functional graph that deep almost certainly has a cycle, and a
    silent partial closure would corrupt downstream counts.
    """
    close, n_far = counted_checkpoint(
        edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
    )
    far = close
    rounds = 0
    while n_far and rounds < max_pow:
        rounds += 1
        f_u = far.select(F.col("src").alias("_u"), F.col("dst").alias("_m"))
        ext = (
            f_u.join(close, F.col("_m") == F.col("src"))
            .select(F.col("_u").alias("src"), F.col("dst"))
        )
        close = close.unionByName(ext).localCheckpoint(eager=True)
        far, n_far = counted_checkpoint(
            f_u.join(far, F.col("_m") == F.col("src"))
            .select(F.col("_u").alias("src"), F.col("dst"))
        )
    # far non-empty after max_pow rounds is NOT by itself failure: when
    # the longest path is exactly 2^max_pow, far still holds those
    # (already-in-close) endpoint pairs. The closure is complete iff
    # extending far one hop through close yields nothing — every far
    # endpoint is a root with no outgoing edge. This probe runs only
    # when the rounds are exhausted.
    converged = (
        n_far == 0
        or far.join(
            close.select(F.col("src").alias("_m")), F.col("dst") == F.col("_m")
        ).isEmpty()
    )
    if stats is not None:
        stats["rounds"] = rounds
    if not converged:
        raise RuntimeError(
            f"functional_closure did not converge within max_pow={max_pow} "
            "doubling rounds (path length > 2^max_pow); the graph likely "
            "has a cycle — a functional closure is only defined on acyclic "
            "out-degree-<=1 graphs"
        )
    return close
