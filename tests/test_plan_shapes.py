"""Physical-plan shape assertions for the round-5 queries: the
property that matters at 100 TB is not the answer (the oracle checks
that) but WHICH plan produces it — a candidate-bounded join that
silently degrades to a nested loop is correct and useless. These pin
the shapes .explain audits found."""

from __future__ import annotations

import pytest

from conftest import SF_SMOKE

from tb_scale_spatial_data_pipeline_spark.plans import all_queries


def plan_of(spark, name: str) -> str:
    q = all_queries()[name](spark, SF_SMOKE)
    return q._jdf.queryExecution().executedPlan().toString()


def test_point_in_polygon_no_nested_loop(spark):
    """The PIP join must stay a cell equi-join + fold — a
    BroadcastNestedLoopJoin/CartesianProduct here means the blocking
    degraded to polys × points."""
    p = plan_of(spark, "spatial_point_in_polygon")
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p


def test_salted_join_query_splits_hot_key(spark):
    """salted_skew_join must join on (key, salt) — the salt column in
    the join keys IS the skew split."""
    p = plan_of(spark, "salted_skew_join")
    assert "_salt" in p
    assert "CartesianProduct" not in p


def test_asof_union_window_single_window(spark):
    """The union-window as-of must plan ONE window over the union —
    not a join (the whole point vs the join+max form)."""
    p = plan_of(spark, "asof_union_window")
    assert "RunningWindowFunction" in p or "Window" in p
    for join_kind in ("SortMergeJoin", "ShuffledHashJoin", "BroadcastHashJoin"):
        assert join_kind not in p, join_kind


def test_triangle_count_equi_joins_only(spark):
    """The three-way self-join must plan as equi joins on the wedge
    keys, never a cartesian of the edge set. (The single permitted
    nested loop is the final 1-row x 1-row edge-count crossJoin.)"""
    p = plan_of(spark, "triangle_count")
    assert "CartesianProduct" not in p
    assert p.count("BroadcastNestedLoopJoin") <= 1
    assert "SortMergeJoin" in p or "ShuffledHashJoin" in p or "BroadcastHashJoin" in p


def test_table_checksum_single_aggregate(spark):
    """The checksum is one map-side-combinable aggregation pass: no
    joins, no windows, exactly one final aggregate over partials."""
    p = plan_of(spark, "table_checksum")
    assert "Join" not in p
    assert "Window" not in p
    assert "HashAggregate" in p or "SortAggregate" in p


def test_funnel_no_events_squared(spark):
    """Funnel stages re-join grouped MINs — no events x events
    explosion, no nested loop."""
    p = plan_of(spark, "funnel_conversion")
    assert "CartesianProduct" not in p
    # the three stage-count crossJoins are 1-row x 1-row broadcasts —
    # nested-loop of single-row sides is fine; what must not appear is
    # a nested loop over the events relation itself, which (scanned
    # rows being grouped first) would show as a NLJ over a Scan
    assert p.count("BroadcastNestedLoopJoin") <= 2


def test_bloom_prefilter_plan_and_kmv_accuracy(spark):
    """The bloom prefilter must appear as two broadcast LEFT-SEMI
    hash joins ahead of the exact join (fact rows die before any
    shuffle), and the KMV estimate must land within the k=64
    bottom-k sketch's expected error band (~1/sqrt(k) ≈ 12.5%, test
    allows 3 sigma)."""
    from tb_scale_spatial_data_pipeline_spark.plans import all_queries

    qs = all_queries()
    sf = "/root/testdata/sf0.01"
    plan = qs["bloom_prefilter_join"](spark, sf)._jdf.queryExecution().executedPlan().toString()
    assert plan.count("LeftSemi") == 2
    assert "BroadcastHashJoin" in plan

    row = qs["kmv_distinct_estimate"](spark, sf).collect()[0]
    est, true = float(row["est_distinct"]), float(row["true_distinct"])
    assert abs(est - true) / true < 0.375


def test_item_cooccurrence_stays_equi_join(spark):
    """Basket pair generation must remain an equi self-join on the
    order key — a CartesianProduct means items × items."""
    p = plan_of(spark, "item_cooccurrence_similarity")
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p


def test_pmi_pair_generation_has_no_positional_join(spark):
    """PMI pairs come from per-row offset unrolling; the only joins
    are broadcast probes of the small unigram/total tables."""
    p = plan_of(spark, "pmi_cooccurrence")
    assert "SortMergeJoin" not in p
    assert "CartesianProduct" not in p
    assert "BroadcastHashJoin" in p


def test_mixture_sampling_never_shuffles_the_corpus(spark):
    """The per-lang probability table is broadcast back — the corpus
    joins without an Exchange on its own rows."""
    p = plan_of(spark, "mixture_sample_sources")
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p


def test_cdc_reduces_changes_before_merging(spark):
    """The change stream collapses to one row per key (window
    last-wins) BEFORE the base join — no CartesianProduct, exactly
    one join."""
    p = plan_of(spark, "cdc_apply_changes")
    assert "CartesianProduct" not in p
    assert p.count("Join") >= 1


def test_inverted_search_broadcasts_stats(spark):
    """Postings are filtered to the query terms before any join; the
    df/total stat tables broadcast — no sort-merge join anywhere."""
    p = plan_of(spark, "inverted_index_search")
    assert "SortMergeJoin" not in p
    assert "CartesianProduct" not in p


def test_recommender_broadcasts_sim_table(spark):
    """The similarity head must broadcast into the scoring join; the
    owned-item exclusion may sort-merge (both sides are user-scale)."""
    p = plan_of(spark, "item_recommendations")
    assert "BroadcastHashJoin" in p
    assert "CartesianProduct" not in p


def test_incremental_dedup_antijoins_on_fingerprint(spark):
    """The base side must reach the anti-join as fingerprints only
    (text pruned from the scan)."""
    p = plan_of(spark, "incremental_dedup_ingest")
    assert "LeftAnti" in p
    assert "CartesianProduct" not in p


def _raw_global_windows(df):
    """simpleStrings of every zero-partition WindowExec in df's
    physical plan whose input subtree reaches a table scan with no
    reducing node (aggregate/limit/inner window) on the path — the one
    window shape that cannot survive a 100x scale-up. Global windows
    over AGGREGATED intermediates (bins, per-group stats, dimension
    ordinals) are deliberately not flagged."""
    from scripts.audit_global_windows import raw_global_windows

    return raw_global_windows(df._jdf.queryExecution().executedPlan())


# queries the round-6 verdict called out (items 1-5) + the two the
# round-7 full-registry audit additionally surfaced; all rebuilt on
# operators/quantiles.py distributed selection or block decomposition
_DEGLOBALIZED = (
    "range_partition_planner",
    "psi_drift_report",
    "woe_iv_binning",
    "rfm_segmentation",
    "sequence_gap_detection",
    "trimmed_winsorized_stats",
    "deterministic_ids",
)

# round-8 additions whose window usage must stay per-doc/per-query
# partitioned (gaps-and-islands, per-query top-k) — never global
_R8_WINDOWED = (
    "repeated_substring_spans",
    "ann_recall_report",
    "bm25_topk",
    "kneser_ney_bigram",
    "minhash_jaccard_calibration",
    "neardup_policy_sweep",
    "embedding_covariance_pairs",
    "cms_join_size_estimate",
    "prediction_calibration_report",
    "corpus_datasheet",
    "table_profile_lineitem",
    "closeness_centrality_sampled",
    "query_likelihood_dirichlet",
    "graph_diameter_sweep",
    "zonal_majority_filter",
    "raster_d8_flow",
    "spatial_knn_join",
    "raster_hist_equalization",
)


def test_no_single_partition_window_over_raw_tables(spark):
    """No headline query, and none of the de-globalized registry
    queries, may plan a single-partition WindowExec over an
    unaggregated base table. The full 307-query sweep is
    scripts/audit_global_windows.py (round-7 run: 0 flagged); this
    test pins the headline surface + every site the verdict flagged
    so a regression fails CI immediately."""
    from concurrent.futures import ThreadPoolExecutor

    import bench

    qs = all_queries()
    names = list(
        dict.fromkeys(
            list(bench.HEADLINE) + list(_DEGLOBALIZED) + list(_R8_WINDOWED)
        )
    )

    # pooled planning: ~90 queries x ~0.5 s driver-side analysis each
    # (queries never mutate session conf, so concurrent planning on the
    # shared session is safe)
    def _check(name):
        bad = _raw_global_windows(qs[name](spark, SF_SMOKE))
        return (name, bad[0][:120]) if bad else None

    with ThreadPoolExecutor(max_workers=8) as pool:
        offenders = dict(r for r in pool.map(_check, names) if r)
    assert not offenders, offenders


def test_cutpoint_binning_queries_plan_no_windows(spark):
    """The distributed-selection rewrites bin by broadcast literal
    cut-tuples, so the FINAL plan of these queries must contain no
    WindowExec at all (the selection itself runs at construction time
    on a separate checkpointed projection). A Window reappearing here
    means someone reverted to the ntile form."""
    qs = all_queries()
    for name in (
        "range_partition_planner",
        "woe_iv_binning",
        "rfm_segmentation",
        "trimmed_winsorized_stats",
        "psi_drift_report",
    ):
        p = plan_of(spark, name)
        assert "Window" not in p, name


def test_silhouette_broadcasts_centroids(spark):
    """Point-dims join k x dim centroid rows — centroids broadcast,
    points never shuffle for the distance computation."""
    p = plan_of(spark, "cluster_silhouette_report")
    assert "BroadcastHashJoin" in p
    assert "CartesianProduct" not in p


def test_grid_dbscan_candidate_bounded(spark):
    """DBSCAN must stay cell-equi-join-blocked: a CartesianProduct
    means points x points distances. The only nested-loop-shaped join
    allowed is the 1-row grid-side broadcast (the design-rule bound
    for BroadcastNestedLoopJoin is <=~10-row bound tables)."""
    p = plan_of(spark, "grid_dbscan_clusters")
    assert "CartesianProduct" not in p
    assert p.count("BroadcastNestedLoopJoin") <= 1


def test_d8_flow_accumulation_no_cartesian(spark):
    """The pointer-doubling closure must be equi-join rounds on the
    successor key — a CartesianProduct would be cells x cells."""
    p = plan_of(spark, "d8_flow_accumulation")
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p


def test_rollup_single_expand_single_agg_shuffle(spark):
    """ROLLUP must plan as ONE Expand + partial/final hash aggregate
    around ONE agg shuffle (plus the output sort) — N margins for the
    price of one groupBy, never one scan per grouping set. A third
    exchange is permitted ONLY for the conditional spread_cpu
    round-robin in front of the Expand (r16: the single-split fixture
    scan otherwise serializes the expand+decimal partial aggregation;
    the spread is a no-op at production split counts)."""
    p = plan_of(spark, "rollup_revenue_margins")
    assert "Expand" in p
    # the only exchange beyond the agg shuffle + output sort may be
    # the round-robin spread itself — pin its kind so an unrelated
    # third exchange cannot hide behind the allowance
    assert p.count("RoundRobinPartitioning") <= 1
    assert p.count("Exchange") - p.count("RoundRobinPartitioning") <= 2
    assert "HashAggregate" in p
    # the grouping sets must still share one scan of lineitem
    assert p.count("Scan parquet") <= 1


def test_sparse_cosine_no_cartesian(spark):
    """The TF-IDF pair join must come from the inverted index (equi
    join on term) — a cartesian/nested-loop here means the df-pruned
    posting join degraded to all doc pairs."""
    p = plan_of(spark, "sparse_cosine_pairs")
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p
    assert "TakeOrderedAndProject" in p


@pytest.mark.parametrize(
    "name",
    [
        "betweenness_sampled",
        "edge_betweenness_topk",
        "sssp_weighted",
        "minimax_path_bottleneck",
    ],
)
def test_betweenness_equi_joins_only(spark, name):
    p = plan_of(spark, name)
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p


def test_ktruss_equi_joins_only(spark):
    p = plan_of(spark, "ktruss_peeling")
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p


def test_ktruss_degree_oriented(spark):
    """The per-round support pass must be the DEGREE-ORIENTED plan:
    triangles closed with a LEFT-SEMI probe of the oriented edge set
    and credited to their 3 edges via explode (Generate) — never the
    symmetrized wedge join whose fan-out is Θ(deg(hub)) per hub edge.
    The pin is source-level: the final executed plan only shows the
    snapshot union over localCheckpointed RDDs (per-round lineage is
    deliberately truncated), so the wedge join never appears in it.
    The per-round SUPPORT plan is pinned by building one round's
    support frame directly and asserting its own executed plan."""
    import inspect

    from tb_scale_spatial_data_pipeline_spark.plans import graph_queries

    src = inspect.getsource(graph_queries.q_ktruss_peeling)
    assert "left_semi" in src  # closing-edge probe is a semi join
    assert 'F.col("rp") < F.col("rq")' in src  # oriented-rank wedge arm
    assert "F.explode" in src  # 3-edge triangle credit
    # the symmetrized fan-out must be gone
    assert 'cur["u"] == s1["a1"]' not in src


def test_spatial_knn_join_no_forced_broadcast(spark):
    """The operator must not HINT a broadcast of the target side (at
    100 TB both sides are large); small fixtures may still AUTO
    broadcast under the size threshold, which is fine — the pin is on
    the join being a cell equi-join, not a nested loop."""
    from tb_scale_spatial_data_pipeline_spark.plans import spatial_queries
    import inspect

    src = inspect.getsource(spatial_queries.q_spatial_knn_join)
    assert "broadcast" not in src.lower()
    p = plan_of(spark, "spatial_knn_join")
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p


def test_embedding_decontamination_broadcasts_benchmark(spark):
    """The benchmark side is the tiny one by construction — it must
    broadcast so the corpus never shuffles for the screen."""
    p = plan_of(spark, "embedding_decontamination")
    assert "BroadcastNestedLoopJoin" in p or "BroadcastHashJoin" in p
    assert "CartesianProduct" not in p
    assert "SortMergeJoin" not in p


def test_idw_broadcasts_grid(spark):
    """48 grid cells ride along as a broadcast; the points side never
    shuffles."""
    p = plan_of(spark, "idw_interpolation")
    assert "CartesianProduct" not in p
    assert "SortMergeJoin" not in p


def test_apriori_no_cartesian(spark):
    """Candidate generation is prefix-join + semi-join pruning; the
    support count is a basket equi-join chain — nothing quadratic in
    the item universe."""
    p = plan_of(spark, "apriori_brand_triples")
    assert "CartesianProduct" not in p


def test_gains_lift_no_raw_global_window(spark):
    """The decile assignment must ride the bounded score spine — the
    window's input is an Aggregate, never the raw fact scan (the shape
    scripts/audit_global_windows.py flags; the per-row ntile form this
    query originally had was flagged and rewritten)."""
    q = all_queries()["cumulative_gains_lift"](spark, SF_SMOKE)
    assert not _raw_global_windows(q)


def test_lof_candidates_equi_join_only(spark):
    """The 9-cell neighborhood must reach the join as an EQUI key
    (points register in their 9 surrounding cells) — a range-only
    join plans as a nested loop = points x points (measured hanging
    at sf0.1 before the rewrite)."""
    p = plan_of(spark, "lof_outlier_scores")
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p


def test_pk_fanout_guard_pinned_in_edge_build(spark):
    """The pair expansion's per-group fan-out bound must be IN the
    dataflow: the size() check and its raise_error must survive
    optimization (the assert_true(...).isNull() form was silently
    erased by NullPropagation — this pins the surviving shape)."""
    from tb_scale_spatial_data_pipeline_spark.plans import graph_queries as gq

    eu = gq._undirected_edges(spark, SF_SMOKE)
    op = eu._jdf.queryExecution().optimizedPlan().toString()
    assert "raise_error" in op
    # the guard is a size() check on the per-part supplier array, folded
    # into the exploded column so pruning cannot drop it
    assert "fan-out exceeds" in op


def test_pk_fanout_guard_raises_on_hot_part(spark, monkeypatch):
    """A group whose member count exceeds the bound must fail LOUDLY
    on both the distinct and the weighted pair path — the alternative
    at 100x is a silent quadratic fan-out in one task."""
    from tb_scale_spatial_data_pipeline_spark.operators import graphs

    monkeypatch.setattr(graphs, "_PK_FANOUT_BOUND", 3)
    hot = spark.createDataFrame(
        [(1, i) for i in range(5)] + [(2, 9)], "pk int, u int"
    )
    ok = spark.createDataFrame([(1, 7), (1, 9), (2, 9)], "pk int, u int")
    for weighted in (False, True):
        with pytest.raises(Exception, match="fan-out exceeds"):
            graphs.co_occurrence_pairs(hot, "pk", "u", weighted=weighted).collect()
        got = graphs.co_occurrence_pairs(ok, "pk", "u", weighted=weighted)
        assert [tuple(r) for r in got.collect()] == (
            [(7, 9, 1)] if weighted else [(7, 9)]
        )


def test_undirected_edges_guard_raises_through_pair_expansion(spark, monkeypatch):
    """The fan-out bound must also trip inside _undirected_edges itself
    (the array-combination form checks size(us) on the grouped supplier
    array)."""
    from tb_scale_spatial_data_pipeline_spark.operators import graphs
    from tb_scale_spatial_data_pipeline_spark.plans import graph_queries as gq

    monkeypatch.setattr(graphs, "_PK_FANOUT_BOUND", 1)
    with pytest.raises(Exception, match="fan-out exceeds"):
        gq._undirected_edges(spark, SF_SMOKE).collect()


@pytest.mark.parametrize(
    "grouping", ["supplier_part", "customer_part", "part_order_weighted"]
)
def test_co_occurrence_pairs_matches_join_form(spark, grouping):
    """The sorted-array combination expansion must produce exactly the
    pair set of the reference group self-join (u < v; distinct, or
    counted per shared group when weighted) on each grouping the
    registry builds: co-suppliers (md5-thinned as _undirected_edges),
    co-purchasing customers (k-core thinning) and order baskets
    (weighted, as the co-occurrence recommenders)."""
    from pyspark.sql import functions as F

    from tb_scale_spatial_data_pipeline_spark.operators.graphs import (
        EDGE_THIN_BELOW,
        co_occurrence_pairs,
        md5_thin,
    )
    from tb_scale_spatial_data_pipeline_spark.plans._util import t
    from tb_scale_spatial_data_pipeline_spark.plans.experiment_queries import (
        _KCORE_THR,
    )

    weighted = grouping == "part_order_weighted"
    li = t(spark, SF_SMOKE, "lineitem")
    if grouping == "supplier_part":
        df = li.select(F.col("l_partkey").alias("g"), F.col("l_suppkey").alias("m"))
        thin = md5_thin(1000, EDGE_THIN_BELOW)
    elif grouping == "customer_part":
        o = t(spark, SF_SMOKE, "orders")
        df = o.join(li, o.o_orderkey == li.l_orderkey).select(
            F.col("l_partkey").alias("g"), F.col("o_custkey").alias("m")
        )
        thin = md5_thin(100000, _KCORE_THR)
    else:
        df = li.select(F.col("l_orderkey").alias("g"), F.col("l_partkey").alias("m"))
        thin = F.lit(True)
    df = df.distinct()
    a = df.select("g", F.col("m").alias("u"))
    b = df.select("g", F.col("m").alias("v"))
    j = a.join(b, "g").where(F.col("u") < F.col("v"))
    if weighted:
        ref = j.groupBy("u", "v").agg(F.count(F.lit(1)).alias("w"))
    else:
        ref = j.select("u", "v").distinct()
    got = co_occurrence_pairs(df, "g", "m", weighted=weighted)
    got_set = {tuple(r) for r in got.where(thin).collect()}
    want_set = {tuple(r) for r in ref.where(thin).collect()}
    assert got_set == want_set and len(got_set) > 0
    if weighted:
        assert max(r[2] for r in got_set) > 1  # counts, not just pairs


# A path 1-2-3-4, a triangle 10-11-12 and a lone edge 20-21, held
# canonically (u < v) with a carried weight w = u + v.
_SMALL_GRAPH = [(1, 2), (2, 3), (3, 4), (10, 11), (11, 12), (10, 12), (20, 21)]


def _small_eu(spark):
    return spark.createDataFrame(
        [(u, v, u + v) for u, v in _SMALL_GRAPH], "u long, v long, w long"
    )


@pytest.mark.parametrize("carry", [(), ("w",)], ids=["plain", "weighted"])
def test_directed_edges_matches_inline_form(spark, carry):
    """directed_edges must return exactly the inline two-select union
    it replaced: both directions of every edge, carried columns kept,
    and the row count of what it returns."""
    from pyspark.sql import functions as F

    from tb_scale_spatial_data_pipeline_spark.operators.graphs import directed_edges

    eu = _small_eu(spark)
    ref = eu.select(F.col("u").alias("src"), F.col("v").alias("dst"), *carry).union(
        eu.select(F.col("v").alias("src"), F.col("u").alias("dst"), *carry)
    )
    got, n_edges = directed_edges(eu, *carry)
    assert got.columns == ["src", "dst", *carry]
    rows = sorted(got.collect())
    assert rows == sorted(ref.collect()) and len(rows) == 2 * len(_SMALL_GRAPH)
    assert n_edges == len(rows)


@pytest.mark.parametrize("by", [(), ("label",)], ids=["node", "node_label"])
def test_aggregate_messages_matches_inline_form(spark, by):
    """One aggregate_messages round must equal the inline vector join +
    per-dst groupBy it replaced, with and without extra group keys."""
    from pyspark.sql import functions as F

    from tb_scale_spatial_data_pipeline_spark.operators.graphs import (
        aggregate_messages,
        directed_edges,
    )

    edges, _ = directed_edges(_small_eu(spark))
    vec = edges.select(F.col("src").alias("node")).distinct().select(
        "node", (F.col("node") * 0.5).alias("x"), (F.col("node") % 3).alias("label")
    )
    aggs = [F.sum("x").alias("s"), F.count(F.lit(1)).alias("c")]
    ref = (
        edges.join(vec, vec["node"] == edges["src"])
        .groupBy(F.col("dst").alias("node"), *by)
        .agg(*aggs)
    )
    got = aggregate_messages(edges, vec, 100, *aggs, by=by[0] if by else ())
    assert got.columns == ref.columns
    rows = sorted(got.collect())
    assert rows == sorted(ref.collect()) and len(rows) > 0


def _python_bfs(starts, max_hops):
    adj: dict[int, set[int]] = {}
    for u, v in _SMALL_GRAPH:
        adj.setdefault(u, set()).add(v)
        adj.setdefault(v, set()).add(u)
    out = set()
    for seed in starts:
        dist = {seed: 0}
        frontier = [seed]
        for k in range(1, max_hops + 1):
            frontier = sorted({n for f in frontier for n in adj[f]} - set(dist))
            dist.update({n: k for n in frontier})
        out |= {(seed, n, d) for n, d in dist.items()}
    return out


@pytest.mark.parametrize(
    "keys,starts,max_hops,levels",
    [
        # the frontier from 1 is empty at level 4: exit long before 10
        (("node",), [1], 10, 4),
        # seeds 1 and 3 share the path: settled per seed, not per node
        (("seed", "node"), [1, 3, 10], 10, 4),
        # the hop cap cuts the path: every level runs
        (("node",), [1], 2, 2),
    ],
    ids=["node", "seed_node", "node_capped"],
)
def test_bfs_levels_matches_reference(spark, monkeypatch, keys, starts, max_hops, levels):
    """bfs_levels must return the min-hop distances of a plain BFS
    within the hop cap, per seed when keyed by (seed, node), and stop
    counting levels at the first empty frontier."""
    from pyspark.sql import functions as F

    from tb_scale_spatial_data_pipeline_spark.operators import graphs

    edges, _ = graphs.directed_edges(_small_eu(spark))
    start = spark.createDataFrame([(s,) for s in starts], "node long")
    if keys == ("seed", "node"):
        start = start.select(F.col("node").alias("seed"), "node")
    probes = []
    counted = graphs.counted_checkpoint

    def counting_checkpoint(df):
        probes.append(1)
        return counted(df)

    monkeypatch.setattr(graphs, "counted_checkpoint", counting_checkpoint)
    got = graphs.bfs_levels(edges, start, max_hops, keys=keys)
    assert got.columns == [*keys, "d"]
    rows = got.collect()
    if keys == ("node",):
        got_set = {(starts[0], r["node"], r["d"]) for r in rows}
    else:
        got_set = {(r["seed"], r["node"], r["d"]) for r in rows}
    assert len(rows) == len(got_set)  # one row per (key, node)
    assert got_set == _python_bfs(starts, max_hops)
    assert len(probes) == levels


def _python_bom(maxpk, modulus, seed, step):
    """Every (root, node, carried, depth) of the BOM tree walk, the
    tree and weights as plans/olap_queries.py::_bom_edges builds them."""
    rows, level = [], [(r, r, seed, 0) for r in (1, 2, 3, 4)]
    while level:
        rows += level
        level = [
            (root, c, step(v, c % modulus + 1), d + 1)
            for root, node, v, d in level
            for c in (2 * node, 2 * node + 1)
            if c <= maxpk
        ]
    return sorted(rows)


@pytest.mark.parametrize(
    "loop",
    [
        "functional_closure",
        "connected_components",
        "directed_edges",
        "brandes_forward",
        "bom_walk",
    ],
)
def test_no_probe_after_checkpoint(spark, monkeypatch, loop):
    """The row counts these loops test — broadcast bounds and loop
    exits — come from the jobs that checkpoint their frames: built
    with DataFrame.count, isEmpty and collect raising, each loop still
    builds, and what it built collects to the current answer."""
    import pandas as pd
    from pyspark.sql import functions as F

    from tb_scale_spatial_data_pipeline_spark.operators import graphs
    from tb_scale_spatial_data_pipeline_spark.operators.dedup import (
        connected_components,
    )
    from tb_scale_spatial_data_pipeline_spark.plans import olap_queries

    eu = _small_eu(spark)
    if loop == "functional_closure":
        chain = spark.createDataFrame(
            [(i, i + 1) for i in range(9)], "src bigint, dst bigint"
        )
        build = lambda: graphs.functional_closure(chain)
        read = lambda df: sorted((r.src, r.dst) for r in df.collect())
        want = [(i, j) for i in range(9) for j in range(i + 1, 10)]
    elif loop == "connected_components":
        edges = eu.select(F.col("u").alias("id_a"), F.col("v").alias("id_b"))
        build = lambda: connected_components(edges)
        read = lambda df: sorted((r.node, r.cluster_id) for r in df.collect())
        comps = ((1, 2, 3, 4), (10, 11, 12), (20, 21))
        want = [(n, min(c)) for c in comps for n in c]
    elif loop == "directed_edges":
        build = lambda: graphs.directed_edges(eu)
        read = lambda out: (out[1], sorted(out[0].select("src", "dst").collect()))
        want = (14, sorted([*_SMALL_GRAPH, *((v, u) for u, v in _SMALL_GRAPH)]))
    elif loop == "brandes_forward":
        edges, n_edges = graphs.directed_edges(eu)
        seeds = spark.createDataFrame([(1,), (10,)], "node long")
        build = lambda: graphs.brandes_forward(edges, n_edges, seeds, 2, 10)
        read = lambda out: ([sorted(f.collect()) for f in out[0]], out[1])
        want = (
            [
                [(1, 1, 1), (10, 10, 1)],
                [(1, 2, 1), (10, 11, 1), (10, 12, 1)],
                [(1, 3, 1)],
                [(1, 4, 1)],
            ],
            2 * 14,
        )
    else:
        edges = olap_queries._bom_edges(spark, SF_SMOKE, 5)
        build = lambda: olap_queries._bom_levels(
            edges, "qty", 1, lambda q, w: q * w, "BOM explosion"
        )
        read = lambda df: sorted(df.collect())
        maxpk = int(pd.read_parquet(f"{SF_SMOKE}/part.parquet")["p_partkey"].max())
        want = _python_bom(maxpk, 5, 1, lambda q, w: q * w)

    def probe(*_a, **_k):
        raise AssertionError("probe job on a checkpointed frame")

    with monkeypatch.context() as m:
        for name in ("count", "isEmpty", "collect"):
            # the session's concrete DataFrame class, which overrides
            # the pyspark.sql.DataFrame methods
            m.setattr(type(eu), name, probe)
        out = build()
    assert read(out) == want


@pytest.mark.parametrize("depth", [3, 4])
def test_bom_walk_depth_guard(spark, monkeypatch, depth):
    """The BOM walk raises iff a level at its depth bound (64) is
    non-empty; with the bound set to 4, a chain from root 1 whose last
    node sits at depth 3 walks, and one at depth 4 raises."""
    from tb_scale_spatial_data_pipeline_spark.plans import olap_queries

    assert olap_queries._BOM_MAX_DEPTH == 64
    monkeypatch.setattr(olap_queries, "_BOM_MAX_DEPTH", 4)
    chain = [1, *range(100, 100 + depth)]
    edges = spark.createDataFrame(
        [(p, c, 1) for p, c in zip(chain, chain[1:])],
        "parent bigint, child bigint, w bigint",
    )

    def walk():
        return olap_queries._bom_levels(
            edges, "qty", 1, lambda q, w: q * w, "BOM explosion"
        )

    if depth == 4:
        with pytest.raises(RuntimeError, match="exceeded depth 4"):
            walk()
    else:
        got = walk().where("root = 1").orderBy("depth").collect()
        assert [(r.node, r.depth) for r in got] == list(zip(chain, range(4)))


def test_functional_closure_empty_edges(spark):
    """An empty edge set closes to nothing in 0 rounds."""
    from tb_scale_spatial_data_pipeline_spark.operators.graphs import functional_closure

    stats: dict = {}
    got = functional_closure(
        spark.createDataFrame([], "src bigint, dst bigint"), stats=stats
    )
    assert got.collect() == [] and stats["rounds"] == 0


def test_probe_sources_pinned():
    """No isEmpty() probe under plans/, and under operators/ only the
    join probe functional_closure runs once its rounds are exhausted;
    every other emptiness or size test reads a counted_checkpoint."""
    import ast
    import pathlib

    import tb_scale_spatial_data_pipeline_spark as pkg

    root = pathlib.Path(pkg.__file__).parent
    hits = []
    for sub in ("plans", "operators"):
        for p in sorted((root / sub).glob("*.py")):
            for fn in ast.walk(ast.parse(p.read_text())):
                if isinstance(fn, ast.FunctionDef):
                    hits += [
                        f"{sub}/{p.name}::{fn.name}"
                        for node in ast.walk(fn)
                        if isinstance(node, ast.Attribute) and node.attr == "isEmpty"
                    ]
    assert hits == ["operators/graphs.py::functional_closure"]


def test_no_inline_edge_symmetrization_in_plans():
    """Every directed edge table comes from operators/graphs.py::
    directed_edges; a hand-copied symmetrization under plans/ would
    carry its own checkpoint policy again."""
    import pathlib

    from tb_scale_spatial_data_pipeline_spark import plans

    copy = 'F.col("v").alias("src"), F.col("u").alias("dst")'
    hits = [
        p.name
        for p in pathlib.Path(plans.__file__).parent.glob("*.py")
        if copy in p.read_text()
    ]
    assert hits == []


@pytest.mark.parametrize(
    "copy",
    [
        "w_sigma",  # the Brandes dependency join
        ".unionByName(relaxed)",  # an inline union-plus-min relaxation
    ],
    ids=["brandes_dependency_join", "min_relaxation_round"],
)
def test_no_inline_graph_round_in_plans(copy):
    """The Brandes sweeps and the min-relaxation round live once, in
    operators/graphs.py (brandes_forward/brandes_backward, relax_min);
    a copy under plans/ would carry its own guard and checkpoint
    policy again."""
    import pathlib

    from tb_scale_spatial_data_pipeline_spark import plans

    hits = [
        p.name
        for p in pathlib.Path(plans.__file__).parent.glob("*.py")
        if copy in p.read_text()
    ]
    assert hits == []


def test_one_tile_runner():
    """The long-rows -> dense pivot and the ghost-cell core crop live
    once, in raster/tiles.py, and so does the tile groupBy; the only
    other tile groupBy is pca_texture_tiles, a per-tile fit over the
    core rows that never pivots."""
    import pathlib

    import tb_scale_spatial_data_pipeline_spark as pkg

    def sites(text):
        return [
            str(p.relative_to(pathlib.Path(pkg.__file__).parent))
            for p in sorted(pathlib.Path(pkg.__file__).parent.rglob("*.py"))
            for _ in range(p.read_text().count(text))
        ]

    assert sites('int(pdf["x"].min())') == ["raster/tiles.py"]
    assert sites("np.nonzero(core)") == ["raster/tiles.py"]
    assert sites('groupBy("tile_x", "tile_y").applyInPandas') == [
        "raster/kernels.py",  # pca_texture_tiles
        "raster/tiles.py",
    ]


def test_no_fixed_repo_path_on_sys_path():
    """Scripts and tests find the package next to themselves: a fixed
    absolute checkout path on sys.path makes a run from any other
    checkout import that checkout's package instead of its own."""
    import pathlib
    import re

    root = pathlib.Path(__file__).resolve().parent.parent
    fixed = re.compile(r"sys\.path\.insert\(\s*0\s*,\s*[\"']/")
    hits = [
        str(p.relative_to(root))
        for d in ("scripts", "tests")
        for p in sorted((root / d).glob("*.py"))
        if fixed.search(p.read_text())
    ]
    assert hits == []


def test_adamic_adar_equi_joins_only(spark):
    """AA's wedge enumeration must plan as equi joins on the wedge
    center — never a cartesian of the edge set (the one permitted
    nested loop is a broadcast-bounded scalar, as in triangle_count)."""
    p = plan_of(spark, "adamic_adar_topk")
    assert "CartesianProduct" not in p
    assert p.count("BroadcastNestedLoopJoin") <= 1


def test_textrank_no_positional_self_join(spark):
    """The word co-occurrence pair stream must come from per-row array
    offsets, not a positional self-join of the token stream. The final
    executed plan only shows the checkpointed rank RDD (per-iteration
    lineage is deliberately truncated), so the pin is source-level —
    the same approach as test_ktruss_degree_oriented."""
    import inspect

    from tb_scale_spatial_data_pipeline_spark.plans import lm_queries

    src = inspect.getsource(lm_queries.q_textrank_keywords)
    assert "flatten(transform(sequence" in src  # per-row offset pairs
    assert "posexplode" not in src  # no positional token stream
    assert "localCheckpoint" in src  # bounded per-iteration lineage
    p = plan_of(spark, "textrank_keywords")
    assert "CartesianProduct" not in p


def test_mmr_retrieval_is_topk_heap(spark):
    """MMR's corpus retrieval must plan as TakeOrderedAndProject (per-
    partition top-32 heap), never a global sort of the corpus."""
    from tb_scale_spatial_data_pipeline_spark.plans import vector_queries as vq

    import inspect

    src = inspect.getsource(vq.q_mmr_diversified_topk)
    assert ".limit(_MMR_CANDS)" in src  # heap via orderBy+limit
    assert "localCheckpoint" in src  # candidates materialize once


def test_nn_matching_no_shrinking_frames(spark):
    """propensity_nn_matching's neighbor scans must BOTH be running
    (expanding-prefix) frames: Spark re-evaluates a (1 FOLLOWING,
    UNBOUNDED FOLLOWING) frame per row — O(n²) per stratum, the 12.4×
    blow-up the r14 sf0.01→0.1 probe caught. The fix expresses "first
    control after me" as "last control before me" under the reversed
    sort; any reappearance of an unboundedfollowing frame is the
    regression."""
    p = plan_of(spark, "propensity_nn_matching").lower()
    assert "unboundedfollowing" not in p
    assert "cartesianproduct" not in p


def test_sample_entropy_pair_join_is_broadcast(spark):
    """sample_entropy's quadratic lives ONLY on the bounded day spine:
    the pair join must be broadcast (spine vs spine), never a shuffled
    sort-merge over row volume."""
    p = plan_of(spark, "sample_entropy")
    assert "BroadcastNestedLoopJoin" in p or "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p


def test_brand_scc_edges_join_is_bounded(spark):
    """brand_transition_scc's closure joins run on the <=625-edge
    brand digraph — a CartesianProduct anywhere means the reachability
    step lost its equi-join key."""
    p = plan_of(spark, "brand_transition_scc")
    assert "CartesianProduct" not in p


def test_elo_fold_is_single_aggregate(spark):
    """elo_brand_ratings' sequential recursion must run as ONE
    Catalyst higher-order fold over the collected duel array — a
    CartesianProduct or a python UDF in the plan means the fold
    decomposed."""
    p = plan_of(spark, "elo_brand_ratings")
    assert "aggregate(" in p or "Aggregate" in p
    assert "CartesianProduct" not in p
    assert "BatchEvalPython" not in p
