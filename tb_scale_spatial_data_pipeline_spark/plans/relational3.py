"""Third relational batch: skew salting, analytic window frames,
anti/range joins, grouping sets, and full ANN paths (top-1 within LSH
bucket; IVF centroid assignment).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators.skew import salted_agg
from ..sources.catalog import register_views
from ._util import t, dsum, sql_dsum, registry

QUERIES, ORACLES, _q = registry()


# ---------------------------------------------------------------------------
# Skew salting: two-stage aggregation must equal the direct aggregate
# (the oracle is the UNsalted query — proving salting is a pure
# physical rewrite).
@_q(
    "salted_skew_agg",
    f"""
    SELECT l_returnflag,
           COUNT(*) AS n,
           {sql_dsum('l_quantity')} AS sum_qty,
           max(l_extendedprice) AS max_price
    FROM lineitem GROUP BY l_returnflag
    """,
)
def q_salted_skew_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem")
    out = salted_agg(
        li,
        ["l_returnflag"],
        {
            "n": (F.lit(1), "count"),
            "_sq": (F.col("l_quantity").cast("decimal(18,2)"), "sum"),
            "max_price": (F.col("l_extendedprice"), "max"),
        },
        n_salts=16,
    )
    return out.select(
        "l_returnflag", "n", F.col("_sq").cast("double").alias("sum_qty"), "max_price"
    )


# ---------------------------------------------------------------------------
# Skew salting, JOIN form: a skewed fact key (90%+ of lines funnel to
# one synthetic hot key) equi-joined to a non-broadcast dim through
# salted_join — the dim replicates across n_salts sub-keys so the hot
# key's probe rows spread over n_salts reducers instead of one. The
# oracle is the UNsalted join: salting must be a pure physical
# rewrite, bit-identical output.
@_q(
    "salted_skew_join",
    f"""
    WITH fact AS (
      SELECT CASE WHEN l_linenumber > 1 THEN 0
                  ELSE CAST(l_suppkey % 100 AS INT) END AS k,
             l_quantity
      FROM lineitem
    ),
    dim AS (
      SELECT CAST(s_suppkey % 100 AS INT) AS k,
             min(s_name) AS grp_name
      FROM supplier GROUP BY 1
    )
    SELECT d.grp_name,
           COUNT(*) AS n,
           {sql_dsum('f.l_quantity')} AS sum_qty
    FROM fact f JOIN dim d ON d.k = f.k
    GROUP BY d.grp_name
    """,
)
def q_salted_skew_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.skew import salted_join

    li = t(spark, sf_dir, "lineitem")
    fact = li.select(
        F.when(F.col("l_linenumber") > 1, 0)
        .otherwise((F.col("l_suppkey") % 100).cast("int"))
        .alias("k"),
        "l_quantity",
    )
    supp = t(spark, sf_dir, "supplier")
    dim = supp.groupBy((F.col("s_suppkey") % 100).cast("int").alias("k")).agg(
        F.min("s_name").alias("grp_name")
    )
    joined = salted_join(fact, dim, ["k"], n_salts=8)
    return joined.groupBy("grp_name").agg(
        F.count(F.lit(1)).alias("n"),
        dsum(F.col("l_quantity")).alias("sum_qty"),
    )


# ---------------------------------------------------------------------------
# Analytic window frames: lag delta + 3-row moving sum per customer
# (free Spark extension over the reference's W1/W2 surface).
@_q(
    "window_analytics",
    """
    SELECT o_orderkey, o_custkey,
           coalesce(o_totalprice - lag(o_totalprice) OVER w, 0.0) AS delta_prev,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER
                (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                 ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS DOUBLE) AS moving_sum3,
           CAST(ntile(4) OVER (PARTITION BY o_custkey ORDER BY o_totalprice, o_orderkey) AS INT) AS price_quartile
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
    """,
)
def q_window_analytics(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    w3 = w.rowsBetween(-2, Window.currentRow)
    wq = Window.partitionBy("o_custkey").orderBy("o_totalprice", "o_orderkey")
    return orders.select(
        "o_orderkey",
        "o_custkey",
        F.coalesce(
            F.col("o_totalprice") - F.lag("o_totalprice").over(w), F.lit(0.0)
        ).alias("delta_prev"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
        .over(w3)
        .cast("double")
        .alias("moving_sum3"),
        F.ntile(4).over(wq).cast("int").alias("price_quartile"),
    )


# ---------------------------------------------------------------------------
# Anti join (left-anti): customers with no URGENT orders.
@_q(
    "anti_join_customers",
    """
    SELECT c_custkey, c_mktsegment
    FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = c.c_custkey
                        AND o.o_orderpriority = '1-URGENT')
    """,
)
def q_anti_join_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = t(spark, sf_dir, "customer")
    urgent = (
        t(spark, sf_dir, "orders")
        .where(F.col("o_orderpriority") == "1-URGENT")
        .select(F.col("o_custkey").alias("c_custkey"))
    )
    return cust.join(urgent, on="c_custkey", how="left_anti").select(
        "c_custkey", "c_mktsegment"
    )


# ---------------------------------------------------------------------------
# Range (interval) join: events bucketed into value bands via a
# non-equi join against a tiny derived band table (broadcast nested
# loop — correct physical choice when one side is rows-of-ranges).
@_q(
    "range_join_bands",
    f"""
    WITH bands AS (
      SELECT i * 50.0 AS lo, (i + 1) * 50.0 AS hi, CAST(i AS INT) AS band
      FROM (SELECT unnest(generate_series(0, 9)) AS i)
    )
    SELECT b.band, COUNT(*) AS n, {sql_dsum('e.value')} AS sum_value
    FROM events e JOIN bands b ON e.value >= b.lo AND e.value < b.hi
    GROUP BY b.band
    """,
)
def q_range_join_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events")
    bands = spark.range(0, 10).select(
        (F.col("id") * 50.0).alias("lo"),
        ((F.col("id") + 1) * 50.0).alias("hi"),
        F.col("id").cast("int").alias("band"),
    )
    joined = ev.join(
        F.broadcast(bands), (ev["value"] >= bands["lo"]) & (ev["value"] < bands["hi"])
    )
    return joined.groupBy("band").agg(
        F.count(F.lit(1)).alias("n"), dsum(F.col("value")).alias("sum_value")
    )


# ---------------------------------------------------------------------------
# GROUPING SETS (beyond rollup/cube): chosen aggregation lattice.
@_q(
    "grouping_sets",
    f"""
    SELECT l_returnflag, l_linestatus, COUNT(*) AS n, {sql_dsum('l_quantity')} AS sum_qty
    FROM lineitem
    GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), (l_returnflag, l_linestatus))
    """,
)
def q_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(spark, sf_dir)
    return spark.sql(
        """
        SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
               CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        FROM lineitem
        GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), (l_returnflag, l_linestatus))
        """
    )


# ---------------------------------------------------------------------------
# Full ANN path: top-1 neighbor per vector WITHIN its sign-LSH bucket
# (the bucket join is the scale path: candidates per query = bucket
# size, not corpus size).
def _sql_ann_top1() -> str:
    from .vector_queries import DIM, _SQL_NORM_A, _sql_lsh_buckets

    norm = _SQL_NORM_A.format(a="embedding", n=DIM)
    dot_nn = "list_dot_product(qe.ne, ce.ne)"
    return f"""
    WITH b AS ({_sql_lsh_buckets()}),
    ne AS (
      SELECT vec_id,
             list_transform(CAST(embedding AS DOUBLE[]),
                            x -> x / ({norm} + 1e-12)) AS ne
      FROM embeddings
    ),
    pairs AS (
      SELECT qa.vec_id AS query_id, ca.vec_id AS cand_id,
             round({dot_nn}, 6) AS cos_sim
      FROM b qa
      JOIN b ca ON qa.bucket = ca.bucket AND qa.vec_id <> ca.vec_id
      JOIN ne qe ON qe.vec_id = qa.vec_id
      JOIN ne ce ON ce.vec_id = ca.vec_id
    )
    SELECT query_id, cand_id AS nn_id, cos_sim
    FROM (
      SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY cos_sim DESC, cand_id) AS rn
      FROM pairs
    ) WHERE rn = 1
    """


@_q("ann_top1_in_bucket", _sql_ann_top1())
def q_ann_top1_in_bucket(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.vectors import dot, l2_norm
    from ..operators.similarity import as_double_array, lsh_ann_buckets
    from .vector_queries import DIM, N_PLANES

    emb = t(spark, sf_dir, "embeddings")
    buckets = lsh_ann_buckets(emb, "embedding", "vec_id", dim=DIM, n_planes=N_PLANES)
    # pre-normalize ONCE per row (two projections: the norm must be an
    # attribute before the divide lambda captures it, else the fold
    # re-runs per element) so the within-bucket pair join computes a
    # single dot-fold instead of dot + two norms
    de = emb.select("vec_id", as_double_array(F.col("embedding")).alias("e"))
    with_norm = de.select("vec_id", "e", (l2_norm(F.col("e")) + F.lit(1e-12)).alias("nrm"))
    normed = with_norm.select(
        "vec_id", F.transform(F.col("e"), lambda x: x / F.col("nrm")).alias("ne")
    )
    # materialize (normalized vector, bucket) once: both sides of the
    # pair self-join read it, and without the barrier the normalize +
    # bucket-hash pipeline runs twice. Real ANN systems STORE
    # pre-normalized vectors for exactly this reason.
    withb = normed.join(buckets, "vec_id").localCheckpoint()
    a = withb.select(
        F.col("vec_id").alias("query_id"), F.col("bucket").alias("b_a"), F.col("ne").alias("qe")
    )
    b = withb.select(
        F.col("vec_id").alias("cand_id"), F.col("bucket").alias("b_b"), F.col("ne").alias("ce")
    )
    pairs = a.join(b, (a["b_a"] == b["b_b"]) & (a["query_id"] != b["cand_id"]))
    scored = pairs.select(
        "query_id", "cand_id", F.round(dot(F.col("qe"), F.col("ce")), 6).alias("cos_sim")
    )
    # top-1 via max_by instead of a row_number window. Struct-keyed
    # max_by plans as SortAggregate, but with MAP-SIDE PARTIALS: only
    # one candidate row per (query, partition) reaches the exchange,
    # where the window shuffled and sorted EVERY candidate pair.
    best = F.max_by(
        F.struct(F.col("cand_id"), F.col("cos_sim")),
        F.struct(F.col("cos_sim"), (-F.col("cand_id")).alias("neg_id")),
    ).alias("best")
    return scored.groupBy("query_id").agg(best).select(
        "query_id",
        F.col("best.cand_id").alias("nn_id"),
        F.col("best.cos_sim").alias("cos_sim"),
    )


# ---------------------------------------------------------------------------
# IVF-style ANN, assignment pass: nearest of 8 deterministic centroids
# (the first 8 vectors) per corpus vector — the coarse quantizer whose
# cells bound the search space at scale.
def _sql_ivf_assign() -> str:
    from .vector_queries import DIM

    dist = (
        f"sqrt(list_aggregate(list_transform(generate_series(1, {DIM}), "
        f"i -> (CAST(e.embedding[i] AS DOUBLE) - CAST(c.embedding[i] AS DOUBLE)) "
        f"* (CAST(e.embedding[i] AS DOUBLE) - CAST(c.embedding[i] AS DOUBLE))), 'sum'))"
    )
    return f"""
    WITH cents AS (SELECT vec_id AS centroid_id, embedding FROM embeddings WHERE vec_id < 8)
    SELECT vec_id, centroid_id
    FROM (
      SELECT e.vec_id, c.centroid_id,
             row_number() OVER (PARTITION BY e.vec_id
                                ORDER BY round({dist}, 9), c.centroid_id) AS rn
      FROM embeddings e CROSS JOIN cents c
    ) WHERE rn = 1
    """


@_q("ivf_assign", _sql_ivf_assign())
def q_ivf_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.vectors import l2_distance
    from ..operators.similarity import as_double_array

    emb = t(spark, sf_dir, "embeddings")
    cents = emb.where(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("centroid_id"), F.col("embedding").alias("ce")
    )
    pairs = emb.select("vec_id", "embedding").crossJoin(F.broadcast(cents))
    dist = F.round(
        l2_distance(as_double_array(F.col("embedding")), as_double_array(F.col("ce"))), 9
    )
    w = Window.partitionBy("vec_id").orderBy(dist.asc(), F.col("centroid_id").asc())
    return (
        pairs.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("vec_id", "centroid_id")
    )


# ---------------------------------------------------------------------------
# TPC-H Q3-shaped shipping priority: the classic 3-way join +
# aggregation + top-k, adapted to the fixture schema.
@_q(
    "q3_shipping_priority",
    """
    SELECT l.l_orderkey,
           CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))
                    * (1 - CAST(l.l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue,
           strftime(o.o_orderdate, '%Y-%m-%d') AS orderdate,
           o.o_orderpriority
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE c.c_mktsegment = 'BUILDING'
      AND o.o_orderdate < TIMESTAMP '1998-03-15'
      AND l.l_shipdate > TIMESTAMP '1998-03-15'
    GROUP BY l.l_orderkey, orderdate, o.o_orderpriority
    ORDER BY revenue DESC, l.l_orderkey
    LIMIT 10
    """,
)
def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = t(spark, sf_dir, "customer").where(F.col("c_mktsegment") == "BUILDING")
    orders = t(spark, sf_dir, "orders").where(
        F.col("o_orderdate") < F.lit("1998-03-15").cast("timestamp")
    )
    li = t(spark, sf_dir, "lineitem").where(
        F.col("l_shipdate") > F.lit("1998-03-15").cast("timestamp")
    )
    dec = lambda c: F.col(c).cast("decimal(18,2)")
    joined = (
        cust.join(orders, cust["c_custkey"] == orders["o_custkey"])
        .join(li, li["l_orderkey"] == orders["o_orderkey"])
    )
    return (
        joined.groupBy(
            "l_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
            "o_orderpriority",
        )
        .agg(
            F.sum(dec("l_extendedprice") * (F.lit(1) - dec("l_discount")))
            .cast("double")
            .alias("revenue")
        )
        .orderBy(F.desc("revenue"), F.asc("l_orderkey"))
        .limit(10)
        .select("l_orderkey", "revenue", "orderdate", "o_orderpriority")
    )


# ---------------------------------------------------------------------------
# TPC-H Q5-shaped local-supplier revenue: 6-way join through the
# region→nation→customer/supplier star, revenue per nation.
@_q(
    "q5_local_supplier",
    """
    SELECT n.n_name,
           CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))
                    * (1 - CAST(l.l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
    FROM region r
    JOIN nation n ON n.n_regionkey = r.r_regionkey
    JOIN customer c ON c.c_nationkey = n.n_nationkey
    JOIN orders o ON o.o_custkey = c.c_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN supplier s ON s.s_suppkey = l.l_suppkey AND s.s_nationkey = n.n_nationkey
    WHERE r.r_name = 'ASIA'
    GROUP BY n.n_name
    """,
)
def q5_local_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    region = t(spark, sf_dir, "region").where(F.col("r_name") == "ASIA")
    nation = t(spark, sf_dir, "nation")
    cust = t(spark, sf_dir, "customer")
    orders = t(spark, sf_dir, "orders")
    li = t(spark, sf_dir, "lineitem")
    supp = t(spark, sf_dir, "supplier")
    dec = lambda c: F.col(c).cast("decimal(18,2)")
    joined = (
        region.join(nation, nation["n_regionkey"] == region["r_regionkey"])
        .join(cust, cust["c_nationkey"] == nation["n_nationkey"])
        .join(orders, orders["o_custkey"] == cust["c_custkey"])
        .join(li, li["l_orderkey"] == orders["o_orderkey"])
        .join(
            supp,
            (supp["s_suppkey"] == li["l_suppkey"])
            & (supp["s_nationkey"] == nation["n_nationkey"]),
        )
    )
    return joined.groupBy("n_name").agg(
        F.sum(dec("l_extendedprice") * (F.lit(1) - dec("l_discount")))
        .cast("double")
        .alias("revenue")
    )


# ---------------------------------------------------------------------------
# E2's per-combo model dispatch + vectorized inference, relationally:
# nearest-centroid models trained per (combo, label) from a training
# slice, broadcast-joined to probe pixels by combo signature (J3), and
# applied via argmin distance (M1's vectorized predict analog) — fully
# oracle-checkable.
_SQL_COMBO_INFERENCE = """
    WITH px AS (
      SELECT l_orderkey, l_linenumber,
             coalesce(CASE WHEN l_quantity > 10 THEN l_quantity END, 0.0) AS b1,
             coalesce(CASE WHEN l_discount > 0.02 THEN l_discount * 100.0 END, 0.0) AS b2,
             coalesce(CASE WHEN l_tax > 0.0 THEN l_tax * 100.0 END, 0.0) AS b3,
             concat_ws('_',
               CASE WHEN l_quantity > 10 THEN 'B1' END,
               CASE WHEN l_discount > 0.02 THEN 'B2' END,
               CASE WHEN l_tax > 0.0 THEN 'B3' END) AS combo_sig,
             CAST(l_partkey % 3 AS INT) AS label,
             l_linenumber <= 2 AS is_train
      FROM lineitem
    ),
    centroids AS (
      SELECT combo_sig, label,
             CAST(SUM(CAST(b1 AS DECIMAL(18,4))) AS DOUBLE) / COUNT(*) AS c1,
             CAST(SUM(CAST(b2 AS DECIMAL(18,4))) AS DOUBLE) / COUNT(*) AS c2,
             CAST(SUM(CAST(b3 AS DECIMAL(18,4))) AS DOUBLE) / COUNT(*) AS c3
      FROM px WHERE is_train GROUP BY combo_sig, label
    )
    SELECT l_orderkey, l_linenumber, pred
    FROM (
      SELECT p.l_orderkey, p.l_linenumber, c.label AS pred,
             row_number() OVER (
               PARTITION BY p.l_orderkey, p.l_linenumber
               ORDER BY round((p.b1-c.c1)*(p.b1-c.c1) + (p.b2-c.c2)*(p.b2-c.c2)
                              + (p.b3-c.c3)*(p.b3-c.c3), 6), c.label) AS rn
      FROM px p JOIN centroids c ON p.combo_sig = c.combo_sig
      WHERE NOT p.is_train
    ) WHERE rn = 1
    """


def combo_pixels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared pixel synthesis for the combo-dispatch inference demos
    (relational twin + applyInPandas kernel form in ml/dispatch.py)."""
    li = t(spark, sf_dir, "lineitem")
    b1r = F.when(F.col("l_quantity") > 10, F.col("l_quantity"))
    b2r = F.when(F.col("l_discount") > 0.02, F.col("l_discount") * 100.0)
    b3r = F.when(F.col("l_tax") > 0.0, F.col("l_tax") * 100.0)
    from ..functions.signatures import combo_signature

    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.coalesce(b1r, F.lit(0.0)).alias("b1"),
        F.coalesce(b2r, F.lit(0.0)).alias("b2"),
        F.coalesce(b3r, F.lit(0.0)).alias("b3"),
        combo_signature([("B1", b1r), ("B2", b2r), ("B3", b3r)]).alias("combo_sig"),
        (F.col("l_partkey") % 3).cast("int").alias("label"),
        (F.col("l_linenumber") <= 2).alias("is_train"),
    )


@_q("combo_model_inference", _SQL_COMBO_INFERENCE)
def q_combo_model_inference(spark: SparkSession, sf_dir: str) -> DataFrame:
    px = combo_pixels(spark, sf_dir)
    davg4 = lambda c: F.sum(F.col(c).cast("decimal(18,4)")).cast("double") / F.count(F.lit(1))
    centroids = (
        px.where("is_train")
        .groupBy("combo_sig", "label")
        .agg(davg4("b1").alias("c1"), davg4("b2").alias("c2"), davg4("b3").alias("c3"))
    )
    probe = px.where(~F.col("is_train"))
    # pack each combo's centroids into ONE array row (<= n_combos x
    # n_labels rows total), broadcast, join 1:1, and take the argmin
    # inside a codegen'd array fold: the probe side never explodes and
    # never re-shuffles — the r6 form's (probe x labels) Exchange into
    # a min_by aggregate is gone entirely. array_min on (d, pred)
    # structs mirrors the oracle's ORDER BY (round(dist,6), label).
    cent_arr = centroids.groupBy("combo_sig").agg(
        F.collect_list(
            F.struct(F.col("c1"), F.col("c2"), F.col("c3"), F.col("label"))
        ).alias("cents")
    )
    from ..operators.spread import spread_cpu

    # the argmin array fold is the query's CPU (measured 3.4 exec-sec
    # fused into the single-split scan stage); spread it before the
    # broadcast join — no-op at production split counts
    joined = spread_cpu(probe).join(F.broadcast(cent_arr), "combo_sig")

    def _scored(c):
        d = (
            (F.col("b1") - c["c1"]) * (F.col("b1") - c["c1"])
            + (F.col("b2") - c["c2"]) * (F.col("b2") - c["c2"])
            + (F.col("b3") - c["c3"]) * (F.col("b3") - c["c3"])
        )
        return F.struct(F.round(d, 6).alias("d"), c["label"].alias("pred"))

    # per-ROW argmin in the array fold; the one remaining Exchange is
    # the per-key min of those (d, pred) structs — needed because the
    # fixture's (orderkey, linenumber) carries duplicates and the
    # oracle's row_number dedupes across them. Map-side partials
    # collapse duplicates before the shuffle; row count = probe rows,
    # not probe x labels as in the r6 form.
    best = F.array_min(F.transform(F.col("cents"), _scored))
    return (
        joined.select("l_orderkey", "l_linenumber", best.alias("_best"))
        .groupBy("l_orderkey", "l_linenumber")
        .agg(F.min("_best")["pred"].alias("pred"))
    )


# ---------------------------------------------------------------------------
# The SAME combo-dispatch inference in its kernel form — broadcast
# model dict + groupBy(combo).applyInPandas batch predict (A7/J3/M1's
# literal architecture). Shares the relational twin's oracle: the two
# formulations must produce identical predictions.
@_q("combo_dispatch_kernel", _SQL_COMBO_INFERENCE)
def q_combo_dispatch_kernel(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..ml.dispatch import dispatch_predict

    px = combo_pixels(spark, sf_dir)
    davg4 = lambda c: F.sum(F.col(c).cast("decimal(18,4)")).cast("double") / F.count(F.lit(1))
    models = (
        px.where("is_train")
        .groupBy("combo_sig", "label")
        .agg(davg4("b1").alias("b1"), davg4("b2").alias("b2"), davg4("b3").alias("b3"))
    )
    probe = px.where(~F.col("is_train"))
    return dispatch_predict(
        probe,
        models,
        combo_col="combo_sig",
        label_col="label",
        feature_cols=["b1", "b2", "b3"],
        id_cols=["l_orderkey", "l_linenumber"],
    )


# ---------------------------------------------------------------------------
# IVF fine search: after the coarse-quantizer assignment (ivf_assign),
# rank candidates WITHIN each cell — per probe vector, the top-1
# same-cell neighbor by cosine. Search cost per probe = cell size.
def _sql_ivf_fine() -> str:
    from .vector_queries import DIM, _SQL_NORM_A

    norm = _SQL_NORM_A.format(a="embedding", n=DIM)
    dist = (
        f"sqrt(list_aggregate(list_transform(generate_series(1, {DIM}), "
        f"i -> (CAST(e.embedding[i] AS DOUBLE) - CAST(c.embedding[i] AS DOUBLE)) "
        f"* (CAST(e.embedding[i] AS DOUBLE) - CAST(c.embedding[i] AS DOUBLE))), 'sum'))"
    )
    dot_nn = "list_dot_product(qe.ne, ce.ne)"
    return f"""
    WITH cents AS (SELECT vec_id AS centroid_id, embedding FROM embeddings WHERE vec_id < 8),
    assign AS (
      SELECT vec_id, centroid_id
      FROM (
        SELECT e.vec_id, c.centroid_id,
               row_number() OVER (PARTITION BY e.vec_id
                                  ORDER BY round({dist}, 9), c.centroid_id) AS rn
        FROM embeddings e CROSS JOIN cents c
      ) WHERE rn = 1
    ),
    ne AS (
      SELECT vec_id,
             list_transform(CAST(embedding AS DOUBLE[]),
                            x -> x / ({norm} + 1e-12)) AS ne
      FROM embeddings
    ),
    pairs AS (
      SELECT qa.vec_id AS query_id, ca.vec_id AS cand_id,
             round({dot_nn}, 6) AS cos_sim
      FROM assign qa
      JOIN assign ca ON qa.centroid_id = ca.centroid_id AND qa.vec_id <> ca.vec_id
      JOIN ne qe ON qe.vec_id = qa.vec_id
      JOIN ne ce ON ce.vec_id = ca.vec_id
    )
    SELECT query_id, cand_id AS nn_id, cos_sim
    FROM (
      SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY cos_sim DESC, cand_id) AS rn
      FROM pairs
    ) WHERE rn = 1
    """


@_q("ivf_fine_search", _sql_ivf_fine())
def q_ivf_fine_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.vectors import dot, l2_norm
    from ..operators.similarity import as_double_array

    emb = t(spark, sf_dir, "embeddings")
    assign = QUERIES["ivf_assign"](spark, sf_dir)
    de = emb.select("vec_id", as_double_array(F.col("embedding")).alias("e"))
    with_norm = de.select("vec_id", "e", (l2_norm(F.col("e")) + F.lit(1e-12)).alias("nrm"))
    normed = with_norm.select(
        "vec_id", F.transform(F.col("e"), lambda x: x / F.col("nrm")).alias("ne")
    )
    withcell = normed.join(assign, "vec_id")
    a = withcell.select(
        F.col("vec_id").alias("query_id"), F.col("centroid_id").alias("cell_a"), F.col("ne").alias("qe")
    )
    b = withcell.select(
        F.col("vec_id").alias("cand_id"), F.col("centroid_id").alias("cell_b"), F.col("ne").alias("ce")
    )
    pairs = a.join(b, (a["cell_a"] == b["cell_b"]) & (a["query_id"] != b["cand_id"]))
    scored = pairs.select(
        "query_id", "cand_id", F.round(dot(F.col("qe"), F.col("ce")), 6).alias("cos_sim")
    )
    # top-1 via max_by — same rationale as ann_top1_in_bucket
    best = F.max_by(
        F.struct(F.col("cand_id"), F.col("cos_sim")),
        F.struct(F.col("cos_sim"), (-F.col("cand_id")).alias("neg_id")),
    ).alias("best")
    return scored.groupBy("query_id").agg(best).select(
        "query_id",
        F.col("best.cand_id").alias("nn_id"),
        F.col("best.cos_sim").alias("cos_sim"),
    )
