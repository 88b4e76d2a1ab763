"""Deduplication operators for large-scale training-data pipelines.

Four tiers, all shuffle-conscious:

- exact: md5-fingerprint groupBy — one shuffle on the 16-byte
  fingerprint, never on the document text.
- MinHash + LSH: shingle→minhash→band→bucket-join. Signatures and
  band hashes are pure Catalyst expressions (md5 + higher-order array
  functions), so the only Python-free shuffle is on tiny band-hash
  keys; candidate pairs come from within-bucket self-joins whose
  bucket sizes LSH keeps small. This is the 100 TB near-dedup path.
- SimHash: 16-bit deterministic simhash from token md5 nibbles —
  again pure column expressions.
- n-gram Jaccard: exact verification of candidate pairs (used after
  LSH blocking; never as an all-pairs join at scale).

All hash choices are md5-based so every step is engine-portable and
DuckDB-oracle-checkable (same hex digests on both sides).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.text import (
    doc_fingerprint,
    normalize_text,
    shingles,
    word_tokens,
)


def exact_dedup(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Exact dedup on the normalized-text md5 fingerprint: keep the min
    id per fingerprint, count the cluster. Output:
    (fingerprint, keep_id, dup_count)."""
    fp = doc_fingerprint(F.col(text_col))
    return (
        df.select(F.col(id_col).alias("_id"), fp.alias("fingerprint"))
        .groupBy("fingerprint")
        .agg(F.min("_id").alias("keep_id"), F.count(F.lit(1)).alias("dup_count"))
    )


def minhash_signatures(
    df: DataFrame, id_col: str, text_col: str, num_hashes: int = 8, k: int = 3
) -> DataFrame:
    """(id, mh0..mh{n-1}) MinHash signature table over word k-shingles.

    Explode→groupBy-min formulation: shingles are materialized once as
    rows, then all ``num_hashes`` minima aggregate in one pass (map-side
    partial min → the shuffle carries only per-doc signature state).
    This beats per-column array folds, which would recompute the
    shingle array per hash function (no CSE across projections), and
    it's the shape that scales: shingle rows never collect anywhere.

    Word shingles (k consecutive tokens, the standard granularity for
    document near-dedup) keep the shingle count ~|tokens| per doc;
    char-5 shingles were measured ~8× more rows → ~8× more md5 work
    for no candidate-quality gain on word-boundary text. Duplicates
    are NOT removed: min over a multiset equals min over its set, so
    a distinct pass would be pure overhead. Full 128-bit salted
    digests per hash function: slicing one md5 into short hashes was
    measured to double LSH candidate pairs (min ties) for no gain.
    """
    from .spread import spread_cpu

    # per-shingle md5 x num_hashes is the tier's CPU hot spot; on the
    # single-split fixture scans it would otherwise run fused into a
    # one-task scan stage (measured 2.1 s serial at sf0.1). spread_cpu
    # is a no-op at production split counts.
    toks = spread_cpu(df).select(
        F.col(id_col), word_tokens(normalize_text(F.col(text_col))).alias("_toks")
    )
    exploded = toks.select(
        F.col(id_col),
        F.col("_toks"),
        F.explode(
            F.sequence(F.lit(1), F.greatest(F.size("_toks") - F.lit(k - 1), F.lit(1)))
        ).alias("_i"),
    ).select(
        F.col(id_col),
        F.array_join(F.slice(F.col("_toks"), F.col("_i"), k), " ").alias("_sh"),
    )
    aggs = [
        F.min(F.md5(F.concat(F.lit(f"{i}:"), F.col("_sh")))).alias(f"mh{i}")
        for i in range(num_hashes)
    ]
    return exploded.groupBy(id_col).agg(*aggs)


def lsh_band_buckets(
    sigs: DataFrame, id_col: str, num_hashes: int = 8, band_size: int = 2
) -> DataFrame:
    """Band the signature: band_hash = md5(mh_i || mh_i+1 ...) per
    band. Output long-format (id, band_idx, band_hash) — the shuffle
    key for bucketing is the 16-byte band hash, not the signature."""
    n_bands = num_hashes // band_size
    bands = []
    for b in range(n_bands):
        parts = [F.col(f"mh{b * band_size + j}") for j in range(band_size)]
        bands.append(F.struct(F.lit(b).alias("band_idx"), F.md5(F.concat_ws("|", *parts)).alias("band_hash")))
    exploded = sigs.select(F.col(id_col), F.explode(F.array(*bands)).alias("band"))
    return exploded.select(id_col, "band.band_idx", "band.band_hash")


def lsh_candidate_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 8,
    band_size: int = 2,
    k: int = 3,
) -> DataFrame:
    """MinHash-LSH candidate pairs (id_a < id_b), distinct across
    bands. At scale, bucket sizes are bounded by LSH design (tune
    num_hashes/band_size), so the within-bucket self-join never
    becomes a global cross join."""
    sigs = minhash_signatures(df, id_col, text_col, num_hashes, k)
    # lazy-materialize the bucket table: both sides of the self-join
    # read it, and without the barrier the shingle-explode + md5-min
    # pipeline is planned twice (lazy: no job until an action, so
    # plan-only consumers pay nothing)
    buckets = lsh_band_buckets(sigs, id_col, num_hashes, band_size).localCheckpoint(
        eager=False
    )
    a = buckets.select(
        F.col("band_idx"), F.col("band_hash"), F.col(id_col).alias("id_a")
    )
    b = buckets.select(
        F.col("band_idx"), F.col("band_hash"), F.col(id_col).alias("id_b")
    )
    pairs = a.join(b, ["band_idx", "band_hash"]).where(F.col("id_a") < F.col("id_b"))
    return pairs.select("id_a", "id_b").distinct()


def ngram_jaccard(text_a: Column, text_b: Column, k: int = 5) -> Column:
    """Exact Jaccard similarity of distinct k-shingle sets."""
    sa = F.array_distinct(shingles(text_a, k))
    sb = F.array_distinct(shingles(text_b, k))
    inter = F.size(F.array_intersect(sa, sb))
    union = F.size(sa) + F.size(sb) - inter
    return F.when(union > 0, inter.cast("double") / union.cast("double")).otherwise(F.lit(0.0))


def simhash_signatures(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(id, simhash) via the scalable explode→aggregate shape.

    Tokens explode to rows, md5 is computed ONCE per token (projected
    to an attribute before the 16 bit extractions), the 16 per-bit
    ±1 contributions partial-aggregate map-side, and the signature is
    assembled from the 16 summed counters. Same semantics as
    ``simhash16`` but with none of the per-element expression
    recomputation of a nested-array fold.
    """
    from .spread import spread_cpu

    normed = spread_cpu(df).select(
        F.col(id_col), normalize_text(F.col(text_col)).alias("_norm")
    )
    toks = normed.select(
        F.col(id_col), F.explode(word_tokens(F.col("_norm"))).alias("_tok")
    )
    hashed = toks.select(F.col(id_col), F.md5(F.col("_tok")).alias("_h"))
    bit_cols = []
    for j in range(16):
        digit = F.substring(F.col("_h"), j // 4 + 1, 1)
        val = F.conv(digit, 16, 10).cast("int")
        bit = F.shiftright(val, j % 4).bitwiseAND(F.lit(1))
        bit_cols.append(F.when(bit == 1, 1).otherwise(-1).alias(f"_c{j}"))
    contribs = hashed.select(F.col(id_col), *bit_cols)
    agg = contribs.groupBy(id_col).agg(
        *[F.sum(f"_c{j}").alias(f"_s{j}") for j in range(16)]
    )
    sig = F.lit(0)
    for j in range(16):
        sig = sig + F.when(F.col(f"_s{j}") > 0, F.lit(1 << j)).otherwise(F.lit(0))
    return agg.select(F.col(id_col), sig.cast("int").alias("simhash"))


def simhash16(text: Column) -> Column:
    """16-bit SimHash over whitespace tokens (column-expression form;
    prefer ``simhash_signatures`` in hot paths).

    Bit j of each token's hash is bit (j % 4) of hex digit (j // 4) of
    md5(token); token weights are +1/-1; signature bit j is 1 iff the
    summed weight is positive. Pure higher-order-function fold —
    JVM-side, and portable to the DuckDB oracle.
    """
    tokens = word_tokens(normalize_text(text))

    def bit_contrib(tok: Column, j: int) -> Column:
        digit = F.substring(F.md5(tok), j // 4 + 1, 1)
        val = F.conv(digit, 16, 10).cast("int")
        bit = F.shiftright(val, j % 4).bitwiseAND(F.lit(1))
        return F.when(bit == 1, F.lit(1)).otherwise(F.lit(-1))

    counts = F.aggregate(
        tokens,
        F.array_repeat(F.lit(0), 16),
        lambda acc, tok: F.zip_with(
            acc,
            F.array(*[bit_contrib(tok, j) for j in range(16)]),
            lambda a, b: a + b,
        ),
    )
    sig = F.lit(0)
    for j in range(16):
        sig = sig + F.when(F.element_at(counts, j + 1) > 0, F.lit(1 << j)).otherwise(F.lit(0))
    return sig


def connected_components(
    edges: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    max_iter: int = 25,
    stats: dict | None = None,
) -> DataFrame:
    """Connected components over an undirected edge list via iterative
    min-label propagation: every node's label converges to the minimum
    node id reachable from it. Output: ``(node, cluster_id)``.

    This is the cluster-resolution step of near-duplicate removal —
    LSH candidate pairs (``lsh_candidate_pairs``) are the edges; each
    component is one duplicate cluster, and ``min`` makes the kept
    representative deterministic regardless of partitioning.

    Scale shape: each iteration is ONE shuffle (edge src joined to the
    current label table, then min-aggregated on dst) — no driver-side
    graph state, no collect. Iteration count is the component
    *diameter*, and LSH duplicate clusters are near-cliques (diameter
    ≤ ~3), so the loop runs 2–4 times in practice; ``max_iter`` is a
    safety bound, with convergence detected by counting rows whose
    label changed this iteration (zero changes ⇒ fixed point), a count
    the round's checkpoint job observes (``counted_checkpoint``). The
    count works for ANY orderable node-id type — numeric, string,
    binary — unlike a label-sum check, which is NULL on strings and
    would silently "converge" after one round. Exhausting ``max_iter``
    without convergence raises rather than returning a partial
    labelling. ``localCheckpoint`` truncates the per-iteration lineage
    so plans don't grow exponentially. Adversarial long-chain graphs
    (not the dedup shape) take :func:`connected_components_star`
    instead: large-star/small-star contraction with the same contract
    and O(log n) rounds. Callers pick by graph shape — this loop for
    near-cliques, the star contraction for long or unknown chains.

    Jobs per call: one checkpoint of the edges, one of the initial
    labels, and one per round; the edge count that bounds the
    broadcast guard and each round's changed-label count are observed
    by those checkpoint jobs, so no call runs a probe job.
    """
    from .spread import broadcast_if_small, counted_checkpoint

    # materialize the (possibly expensive) edge derivation ONCE before
    # the two-direction union — otherwise the union's two branches each
    # recompute the full upstream plan (e.g. the MinHash pipeline).
    e0, n_e0 = counted_checkpoint(
        edges.select(F.col(src).alias("_s"), F.col(dst).alias("_d"))
    )
    sym = e0.union(e0.select(F.col("_d"), F.col("_s")))
    # |labels| = |nodes| <= 2|e0| at every round: the edge count bounds
    # the per-round broadcast guard, so the symmetrized edge table
    # never re-exchanges per round (§3.1); above the guard both joins
    # degrade to shuffles.
    n_bound = 2 * n_e0

    labels = (
        sym.select(F.col("_s").alias("node")).distinct()
        .withColumn("lbl", F.col("node"))
        .localCheckpoint(eager=True)
    )

    converged = False
    rounds = 0
    for _ in range(max_iter):
        rounds += 1
        neighbor_min = (
            sym.join(
                broadcast_if_small(labels, n_bound),
                sym["_s"] == labels["node"],
            )
            .groupBy(F.col("_d").alias("node2"))
            .agg(F.min("lbl").alias("nmin"))
        )
        stepped, n_changed = counted_checkpoint(
            labels.join(
                broadcast_if_small(neighbor_min, n_bound),
                labels["node"] == F.col("node2"),
                "left",
            ).select(
                "node",
                F.col("lbl").alias("_old"),
                F.least(F.col("lbl"), F.coalesce(F.col("nmin"), F.col("lbl"))).alias("lbl"),
            ),
            where=F.col("lbl") != F.col("_old"),
        )
        labels = stepped.select("node", "lbl")
        if n_changed == 0:
            converged = True
            break

    if stats is not None:
        stats["rounds"] = rounds
    if not converged:
        raise RuntimeError(
            f"connected_components did not converge within max_iter={max_iter} "
            "iterations; the graph has components with diameter > max_iter "
            "(raise max_iter, or call connected_components_star, the "
            "large-star/small-star contraction, for long-chain graphs)"
        )
    return labels.select(F.col("node"), F.col("lbl").alias("cluster_id"))


def connected_components_star(
    edges: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    max_iter: int = 50,
    stats: dict | None = None,
) -> DataFrame:
    """Connected components via alternating large-star / small-star
    contraction (Kiveris et al., "Connected Components in MapReduce and
    Beyond", SoCC 2014) — the adversarial-graph path: O(log n) rounds
    regardless of component diameter, vs the min-label loop's
    O(diameter). Same contract as :func:`connected_components`:
    output ``(node, cluster_id)`` with cluster_id = component minimum.

    Round shape (each is two shuffles — a per-node min and a distinct):
    - large-star: every node u links its LARGER neighbors to
      m = min(Γ(u) ∪ {u}) — long chains fold onto local minima;
    - small-star: every node u links its ≤ neighbors and itself to the
      minimum of that set — stars flatten onto the true minimum.
    The edge set converges to stars rooted at each component min; the
    root set is the labelling. No driver-side graph state; the only
    driver values per round are the two counts of the fixed-point test
    (type-agnostic, same discipline as the min-label loop). They stay
    two jobs after the round's checkpoint: one joins the frame with its
    own source set and the other groups it, so neither is a per-row
    predicate the checkpoint job could observe the way the min-label
    loop observes its changed-label count.

    When to use which: LSH dedup clusters are near-cliques — min-label
    finishes in 2–4 cheap rounds and wins. Graphs with unknown or long
    chain structure (entity resolution over transitive matches, web
    graphs) get log-round guarantees here.
    """
    sym0 = edges.select(F.col(src).alias("_u"), F.col(dst).alias("_v")).unionByName(
        edges.select(F.col(dst).alias("_u"), F.col(src).alias("_v"))
    )
    # node set BEFORE dropping self-loops: a node appearing only in
    # (u, u) edges is its own component and must still be labelled
    # (the min-label variant keeps it; the contract must match)
    nodes = sym0.select(F.col("_u").alias("node")).distinct().localCheckpoint(eager=True)
    e = (
        sym0.where(F.col("_u") != F.col("_v"))
        .distinct()
        .localCheckpoint(eager=True)
    )

    def _large_star(ed: DataFrame) -> DataFrame:
        # m(u) = min over Γ(u) ∪ {u}; link strictly-larger neighbors to m
        m = ed.groupBy("_u").agg(F.least(F.min("_v"), F.first("_u")).alias("_m"))
        return (
            ed.join(m, "_u")
            .where(F.col("_v") > F.col("_u"))
            .select(F.col("_v").alias("_u"), F.col("_m").alias("_v"))
            .where(F.col("_u") != F.col("_v"))
            .distinct()
        )

    def _small_star(ed: DataFrame) -> DataFrame:
        # operate on edges directed high -> low (v <= u)
        d = ed.where(F.col("_v") <= F.col("_u"))
        m = d.groupBy("_u").agg(F.min("_v").alias("_m"))
        linked = (
            d.join(m, "_u")
            .select(F.col("_v").alias("_u"), F.col("_m").alias("_v"))
            .unionByName(m.select(F.col("_u"), F.col("_m").alias("_v")))
            .where(F.col("_u") != F.col("_v"))
            .distinct()
        )
        return linked

    converged = False
    rounds = 0
    for _ in range(max_iter):
        rounds += 1
        grown = _large_star(e)
        contracted = _small_star(
            grown.unionByName(grown.select(F.col("_v").alias("_u"), F.col("_u").alias("_v")))
        ).localCheckpoint(eager=True)
        # fixed point ⇔ star forest, which needs BOTH: (a) no target is
        # still a source (no two-level chain survives) and (b) every
        # source maps to exactly ONE distinct target. (a) alone is not a
        # fixed-point test — on the butterfly graph
        # {(1,5),(2,6),(3,5),(3,6)} node 3 ends linked to roots 1 AND 2
        # with no chain, and exiting there splits the component.
        chains = (
            contracted.join(
                contracted.select(F.col("_u").alias("_v")).distinct(),
                "_v",
                "leftsemi",
            ).count()
        )
        multi_parent = (
            contracted.groupBy("_u")
            .agg(F.countDistinct("_v").alias("_nd"))
            .where(F.col("_nd") > 1)
            .count()
        )
        sym = contracted.unionByName(
            contracted.select(F.col("_v").alias("_u"), F.col("_u").alias("_v"))
        )
        e = sym.distinct().localCheckpoint(eager=True)
        if chains == 0 and multi_parent == 0:
            converged = True
            break
    if stats is not None:
        stats["rounds"] = rounds
    if not converged:
        raise RuntimeError(
            f"connected_components_star did not converge within {max_iter} rounds"
        )
    # stars: every non-root points at its component min; roots label themselves
    labels = e.where(F.col("_v") < F.col("_u")).select(
        F.col("_u").alias("node"), F.col("_v").alias("cluster_id")
    )
    return (
        nodes.join(labels, "node", "left")
        .select("node", F.coalesce("cluster_id", F.col("node")).alias("cluster_id"))
    )
