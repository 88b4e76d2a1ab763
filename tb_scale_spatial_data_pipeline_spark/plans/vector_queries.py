"""Embedding similarity-search queries over `embeddings` (north-star
extension). dim=64 array<float>; all folds are cast to double and run
left-to-right so Spark and DuckDB produce bit-identical IEEE results.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.vectors import cosine_similarity
from ..operators.similarity import (
    as_double_array,
    lsh_ann_buckets,
    plane_sign,
)
from ._util import t, registry

QUERIES, ORACLES, _q = registry()

DIM = 64
N_PLANES = 8

# dot(a, b) in double precision — mirror of functions.vectors.dot.
# list_dot_product over DOUBLE[] is a single vectorized C++ pass;
# the per-element generate_series/list_transform fold it replaces was
# ~10× slower and dominated the oracle runtime of every vector query.
# User-visible similarity values are rounded to 6 decimals on both
# engines, which absorbs any sub-ulp summation-order difference.
_SQL_DOT_AB = "list_dot_product(CAST({a} AS DOUBLE[]), CAST({b} AS DOUBLE[]))"
_SQL_NORM_A = "sqrt(list_dot_product(CAST({a} AS DOUBLE[]), CAST({a} AS DOUBLE[])))"


def _sql_cosine(a: str, b: str, n: int = DIM) -> str:
    dot = _SQL_DOT_AB.format(a=a, b=b, n=n)
    na = _SQL_NORM_A.format(a=a, n=n)
    nb = _SQL_NORM_A.format(a=b, n=n)
    return f"({dot} / ({na} * {nb} + 1e-12))"


# ---------------------------------------------------------------------------
# Brute-force cosine top-k against a fixed query vector (vec_id = 0).
# Spark plans orderBy+limit as TakeOrderedAndProject: per-partition
# heap, no global sort — the right physical shape at any scale.
@_q(
    "cosine_topk",
    f"""
    WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0)
    SELECT e.vec_id,
           round({_sql_cosine('e.embedding', 'q.qv')}, 6) AS cos_sim
    FROM embeddings e CROSS JOIN q
    WHERE e.vec_id <> 0
    ORDER BY cos_sim DESC, e.vec_id
    LIMIT 10
    """,
)
def q_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = t(spark, sf_dir, "embeddings")
    # one-row lookup for the query vector: broadcast cross join keeps
    # the corpus side shuffle-free (collect of 1 row would also be
    # fine, but stays declarative this way)
    q = emb.where(F.col("vec_id") == 0).select(
        as_double_array(F.col("embedding")).alias("qv")
    )
    joined = emb.where(F.col("vec_id") != 0).crossJoin(F.broadcast(q))
    sim = cosine_similarity(as_double_array(F.col("embedding")), F.col("qv"))
    return (
        joined.select("vec_id", F.round(sim, 6).alias("cos_sim"))
        .orderBy(F.desc("cos_sim"), F.asc("vec_id"))
        .limit(10)
    )


# ---------------------------------------------------------------------------
# Sign-LSH ANN bucketing: deterministic hyperplanes; bucket id is the
# shuffle key for the scale path (candidates = same bucket only).
def _sql_lsh_buckets() -> str:
    terms = []
    for p in range(N_PLANES):
        signs = ", ".join(str(float(plane_sign(p, j))) for j in range(DIM))
        dot = (
            f"list_dot_product(CAST(embedding AS DOUBLE[]), "
            f"CAST([{signs}] AS DOUBLE[]))"
        )
        terms.append(f"CASE WHEN round({dot}, 9) >= 0 THEN {1 << p} ELSE 0 END")
    bucket = " + ".join(terms)
    return f"SELECT vec_id, CAST({bucket} AS INT) AS bucket FROM embeddings"


@_q("lsh_ann_buckets", _sql_lsh_buckets())
def q_lsh_ann_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = t(spark, sf_dir, "embeddings")
    out = lsh_ann_buckets(emb, "embedding", "vec_id", dim=DIM, n_planes=N_PLANES)
    return out.select("vec_id", F.col("bucket").cast("int").alias("bucket"))


# ---------------------------------------------------------------------------
# Embedding near-duplicate detection on blocked (adjacent-id) pairs —
# cosine above threshold. (Blocking stands in for the LSH bucket join;
# exact cosine is the verification stage.)
@_q(
    "embedding_neardup",
    f"""
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           round({_sql_cosine('a.embedding', 'b.embedding')}, 6) AS cos_sim
    FROM embeddings a JOIN embeddings b
      ON a.label = b.label AND b.vec_id > a.vec_id
    WHERE round({_sql_cosine('a.embedding', 'b.embedding')}, 6) > 0.3
    """,
)
def q_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    # per-ROW cast + norm hoisted out of the pair join (bit-identical
    # doubles — both are row-local folds), shared frame for both join
    # sides; per-pair work = one dot fold + divide
    from ..functions.vectors import dot, l2_norm

    emb = t(spark, sf_dir, "embeddings")
    base = (
        emb.select(
            "vec_id", "label", as_double_array(F.col("embedding")).alias("e")
        )
        .withColumn("nm", l2_norm(F.col("e")))
        .localCheckpoint()
    )
    a = base.select(
        F.col("vec_id").alias("id_a"),
        F.col("label").alias("lbl_a"),
        F.col("e").alias("ea"),
        F.col("nm").alias("na"),
    )
    b = base.select(
        F.col("vec_id").alias("id_b"),
        F.col("label").alias("lbl_b"),
        F.col("e").alias("eb"),
        F.col("nm").alias("nb"),
    )
    pairs = a.join(b, (a["lbl_a"] == b["lbl_b"]) & (b["id_b"] > a["id_a"]))
    sim = dot(F.col("ea"), F.col("eb")) / (
        F.col("na") * F.col("nb") + F.lit(1e-12)
    )
    # threshold on the ROUNDED similarity (both engines): row membership
    # must not hinge on sub-ulp summation-order differences
    return pairs.where(F.round(sim, 6) > 0.3).select(
        "id_a", "id_b", F.round(sim, 6).alias("cos_sim")
    )


# ---------------------------------------------------------------------------
# Per-label exact stats over vector norms — array fold + grouped agg.
@_q(
    "norm_stats_by_label",
    f"""
    SELECT label,
           COUNT(*) AS n,
           round(min({_SQL_NORM_A.format(a='embedding', n=DIM)}), 6) AS min_norm,
           round(max({_SQL_NORM_A.format(a='embedding', n=DIM)}), 6) AS max_norm
    FROM embeddings GROUP BY label
    """,
)
def q_norm_stats_by_label(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.vectors import l2_norm

    emb = t(spark, sf_dir, "embeddings")
    norm = l2_norm(as_double_array(F.col("embedding")))
    return (
        emb.select("label", norm.alias("_n"))
        .groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.min("_n"), 6).alias("min_norm"),
            F.round(F.max("_n"), 6).alias("max_norm"),
        )
    )


# ---------------------------------------------------------------------------
# Iterative Lloyd k-means — hash-checked (r10 upgrade from rows-only):
# the loop runs on the EXACT micro-lattice (ml/clustering.py — BIGINT
# distances, rounded-mean centroids, (dist², cid) ties), so each of
# the 3 bounded iterations unrolls to a CTE pair (assign, update) the
# same way the HITS/pagerank oracles unroll power iterations, and the
# final per-cluster (n, Σdist²) profile is bit-identical integers.
# Spark plan: assignment is a ZERO-Exchange literal-centroid
# projection; the oracle's join-per-dim shape is the SQL-expressible
# twin, not the plan you'd run at scale.
_KM_K = 8
_KM_ITERS = 3


def _sql_kmeans() -> str:
    ctes = [
        """q AS MATERIALIZED (
      SELECT vec_id, i - 1 AS dim,
             CAST(round(CAST(embedding[i] AS DOUBLE) * 1000000) AS BIGINT)
               AS xi
      FROM embeddings,
           LATERAL unnest(generate_series(1, len(embedding))) AS s(i)
    )""",
        f"""c0 AS MATERIALIZED (
      SELECT CAST(r.rn - 1 AS BIGINT) AS cid, q.dim, q.xi AS c
      FROM (SELECT vec_id, row_number() OVER (ORDER BY vec_id) AS rn
            FROM embeddings ORDER BY vec_id LIMIT {_KM_K}) r
      JOIN q ON q.vec_id = r.vec_id
    )""",
    ]
    for r in range(_KM_ITERS):
        ctes.append(
            f"""d{r} AS (
      SELECT q.vec_id, c.cid,
             SUM((q.xi - c.c) * (q.xi - c.c)) AS d2
      FROM q JOIN c{r} c ON c.dim = q.dim
      GROUP BY q.vec_id, c.cid
    ),
    a{r} AS MATERIALIZED (
      SELECT vec_id, cid FROM (
        SELECT vec_id, cid,
               row_number() OVER (PARTITION BY vec_id ORDER BY d2, cid)
                 AS rnk
        FROM d{r}) WHERE rnk = 1
    ),
    c{r + 1} AS MATERIALIZED (
      SELECT a.cid, q.dim,
             CAST(CASE WHEN SUM(q.xi) >= 0
                  THEN (2 * SUM(q.xi) + COUNT(*)) // (2 * COUNT(*))
                  ELSE -((2 * -SUM(q.xi) + COUNT(*)) // (2 * COUNT(*)))
                  END AS BIGINT) AS c
      FROM a{r} a JOIN q ON q.vec_id = a.vec_id
      GROUP BY a.cid, q.dim
    )"""
        )
    return (
        "WITH "
        + ",\n    ".join(ctes)
        + f"""
    SELECT cid AS cluster, CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(d2) AS BIGINT) AS scatter_sq
    FROM (
      SELECT vec_id, cid, d2,
             row_number() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rnk
      FROM (
        SELECT q.vec_id, c.cid,
               SUM((q.xi - c.c) * (q.xi - c.c)) AS d2
        FROM q JOIN c{_KM_ITERS} c ON c.dim = q.dim
        GROUP BY q.vec_id, c.cid
      )
    ) WHERE rnk = 1
    GROUP BY cid ORDER BY cluster"""
    )


@_q("kmeans_clusters", _sql_kmeans())
def q_kmeans_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..ml.clustering import kmeans_cluster_profile

    return kmeans_cluster_profile(spark, sf_dir, k=_KM_K, iters=_KM_ITERS)


# ---------------------------------------------------------------------------
# Embedding-duplicate clusters: the cosine near-dup pairs become edges
# of a similarity graph; connected components (star contraction)
# resolve transitive duplicate groups — the embedding-space mirror of
# the MinHash dup_cluster_components chain, checked against the same
# recursive-CTE fixpoint pattern.
def _sql_embedding_dup_clusters() -> str:
    pair_sql = f"""
    SELECT a.vec_id AS id_a, b.vec_id AS id_b
    FROM embeddings a JOIN embeddings b
      ON a.label = b.label AND b.vec_id > a.vec_id
    WHERE round({_sql_cosine('a.embedding', 'b.embedding')}, 6) > 0.3
    """
    return f"""
    WITH RECURSIVE pairs AS MATERIALIZED ({pair_sql}),
    edges AS (SELECT id_a AS s, id_b AS d FROM pairs
              UNION ALL SELECT id_b, id_a FROM pairs),
    reach(node, lbl) AS (
      SELECT DISTINCT s, s FROM edges
      UNION
      SELECT e.d, r.lbl FROM reach r JOIN edges e ON e.s = r.node
      WHERE r.lbl < e.d
    ),
    labels AS (SELECT node AS vec_id, MIN(lbl) AS cluster_id
               FROM reach GROUP BY node)
    SELECT vec_id, cluster_id,
           CAST(COUNT(*) OVER (PARTITION BY cluster_id) AS BIGINT) AS cluster_size
    FROM labels
    """


@_q("embedding_dup_clusters", _sql_embedding_dup_clusters())
def q_embedding_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from ..operators.dedup import connected_components_star

    emb = t(spark, sf_dir, "embeddings")
    # per-ROW work hoisted out of the pair join: the float->double cast
    # and the l2 norm are row-local folds, so computing them once per
    # vector (instead of once per PAIR) produces bit-identical doubles
    # — the per-pair expression is then one dot fold + a divide, and
    # the materialized frame is shared by both join sides
    from ..functions.vectors import dot, l2_norm

    base = (
        emb.select(
            "vec_id", "label", as_double_array(F.col("embedding")).alias("e")
        )
        .withColumn("nm", l2_norm(F.col("e")))
        .localCheckpoint()
    )
    a = base.select(
        F.col("vec_id").alias("id_a"),
        F.col("label").alias("lbl_a"),
        F.col("e").alias("ea"),
        F.col("nm").alias("na"),
    )
    b = base.select(
        F.col("vec_id").alias("id_b"),
        F.col("label").alias("lbl_b"),
        F.col("e").alias("eb"),
        F.col("nm").alias("nb"),
    )
    pairs = a.join(b, (a["lbl_a"] == b["lbl_b"]) & (b["id_b"] > a["id_a"]))
    # same expression tree as cosine_similarity, with the norm
    # subtrees precomputed: dot/(na*nb + 1e-12)
    sim = dot(F.col("ea"), F.col("eb")) / (
        F.col("na") * F.col("nb") + F.lit(1e-12)
    )
    edges = pairs.where(F.round(sim, 6) > 0.3).select("id_a", "id_b")
    comp = connected_components_star(edges, "id_a", "id_b")
    w = Window.partitionBy("cluster_id")
    return comp.select(
        F.col("node").alias("vec_id"),
        "cluster_id",
        F.count(F.lit(1)).over(w).alias("cluster_size"),
    )


# ---------------------------------------------------------------------------
# IVF search with nprobe > 1 — the standard recall lever for inverted-
# file ANN. Measured on this fixture (PLANS.md round-5 quality table):
# single-cell (nprobe=1) recall@10 vs brute force is 0.47; probing the
# 3 nearest of 8 cells lifts the candidate fraction to ~3/8 of the
# corpus and recall to ~0.9 while preserving the scale shape — the
# fact side joins cell-bucketed candidates, never all pairs. Queries =
# vec_id < 5; output = top-5 per query among probed-cell candidates.
NPROBE = 3
N_QUERIES = 5
IVF_TOPK = 5


def _sql_ivf_nprobe() -> str:
    dist_qc = (
        "sqrt(list_aggregate(list_transform(generate_series(1, {n}), "
        "i -> (CAST(q.embedding[i] AS DOUBLE) - CAST(c.embedding[i] AS DOUBLE)) "
        "* (CAST(q.embedding[i] AS DOUBLE) - CAST(c.embedding[i] AS DOUBLE))), 'sum'))"
    ).format(n=DIM)
    dist_ec = (
        "sqrt(list_aggregate(list_transform(generate_series(1, {n}), "
        "i -> (CAST(e.embedding[i] AS DOUBLE) - CAST(c.embedding[i] AS DOUBLE)) "
        "* (CAST(e.embedding[i] AS DOUBLE) - CAST(c.embedding[i] AS DOUBLE))), 'sum'))"
    ).format(n=DIM)
    cos = _sql_cosine("q.embedding", "e.embedding")
    return f"""
    WITH cents AS (SELECT vec_id AS centroid_id, embedding
                   FROM embeddings WHERE vec_id < 8),
    assign AS (
      SELECT vec_id, centroid_id FROM (
        SELECT e.vec_id, c.centroid_id,
               row_number() OVER (PARTITION BY e.vec_id
                                  ORDER BY round({dist_ec}, 9), c.centroid_id) AS rn
        FROM embeddings e CROSS JOIN cents c
      ) WHERE rn = 1
    ),
    probed AS (
      SELECT query_id, centroid_id FROM (
        SELECT q.vec_id AS query_id, c.centroid_id,
               row_number() OVER (PARTITION BY q.vec_id
                                  ORDER BY round({dist_qc}, 9), c.centroid_id) AS rn
        FROM embeddings q CROSS JOIN cents c
        WHERE q.vec_id < {N_QUERIES}
      ) WHERE rn <= {NPROBE}
    ),
    scored AS (
      SELECT p.query_id, a.vec_id AS cand_id,
             round({cos}, 6) AS cos_sim
      FROM probed p
      JOIN assign a ON a.centroid_id = p.centroid_id
      JOIN embeddings e ON e.vec_id = a.vec_id
      JOIN embeddings q ON q.vec_id = p.query_id
      WHERE a.vec_id <> p.query_id
    )
    SELECT query_id, cand_id, cos_sim FROM (
      SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY cos_sim DESC, cand_id) AS rn
      FROM scored
    ) WHERE rn <= {IVF_TOPK}
    """


@_q("ivf_search_nprobe", _sql_ivf_nprobe())
def q_ivf_search_nprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from ..functions.vectors import l2_distance

    emb = t(spark, sf_dir, "embeddings")
    cents = emb.where(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("centroid_id"), F.col("embedding").alias("ce")
    )
    # corpus assignment: nearest centroid per vector (= ivf_assign)
    pairs = emb.select("vec_id", "embedding").crossJoin(F.broadcast(cents))
    dist = F.round(
        l2_distance(as_double_array(F.col("embedding")), as_double_array(F.col("ce"))),
        9,
    )
    w_assign = Window.partitionBy("vec_id").orderBy(dist.asc(), F.col("centroid_id").asc())
    assign = (
        pairs.withColumn("rn", F.row_number().over(w_assign))
        .where(F.col("rn") == 1)
        .select("vec_id", "centroid_id")
    )
    # probe list: the NPROBE nearest cells per query vector
    queries = emb.where(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qe")
    )
    qc = queries.crossJoin(F.broadcast(cents))
    qdist = F.round(
        l2_distance(as_double_array(F.col("qe")), as_double_array(F.col("ce"))), 9
    )
    w_probe = Window.partitionBy("query_id").orderBy(qdist.asc(), F.col("centroid_id").asc())
    probed = (
        qc.withColumn("rn", F.row_number().over(w_probe))
        .where(F.col("rn") <= NPROBE)
        .select("query_id", "centroid_id", "qe")
    )
    # candidates: corpus vectors in any probed cell (cell-bucketed join)
    cand = probed.join(assign, "centroid_id").where(
        F.col("vec_id") != F.col("query_id")
    )
    ce = emb.select(F.col("vec_id"), F.col("embedding").alias("cand_e"))
    scored = cand.join(ce, "vec_id").select(
        "query_id",
        F.col("vec_id").alias("cand_id"),
        F.round(
            cosine_similarity(
                as_double_array(F.col("qe")), as_double_array(F.col("cand_e"))
            ),
            6,
        ).alias("cos_sim"),
    )
    w_top = Window.partitionBy("query_id").orderBy(
        F.desc("cos_sim"), F.asc("cand_id")
    )
    return (
        scored.withColumn("rn", F.row_number().over(w_top))
        .where(F.col("rn") <= IVF_TOPK)
        .select("query_id", "cand_id", "cos_sim")
    )


# ---------------------------------------------------------------------------
# Multi-table (OR-amplified) LSH ANN — the recall lever for sign-LSH.
# Measured on this fixture: one 8-plane table gives candidate
# recall@10 ≈ 0.01 (256 buckets over 500 vectors ≈ 2 per bucket);
# 8 tables × 5 seeded-random planes union to candidate recall ≈ 0.5
# at ~24% of the corpus as candidates — and this fixture is the
# adversarial regime (true neighbors at cos ≈ 0.4; at the near-dup
# regime cos ≥ 0.9 the same 8×5 reaches ~0.99). Candidates stay
# bucket-local per table (never all-pairs); the union dedups on
# (query, cand). Output = top-3 per query among candidates.
N_TABLES = 8
PLANES_PER_TABLE = 5
LSH_TOPK = 3


def _sql_lsh_multitable() -> str:
    from ..operators.similarity import multitable_plane_signs

    cos = _sql_cosine("q.embedding", "e.embedding")
    per_table = []
    for ti in range(N_TABLES):
        rows = multitable_plane_signs(ti, PLANES_PER_TABLE, DIM)
        terms = []
        for p in range(PLANES_PER_TABLE):
            signs = ", ".join(str(float(v)) for v in rows[p])
            dot = (
                f"list_dot_product(CAST(embedding AS DOUBLE[]), "
                f"CAST([{signs}] AS DOUBLE[]))"
            )
            terms.append(f"CASE WHEN round({dot}, 9) >= 0 THEN {1 << p} ELSE 0 END")
        bucket = " + ".join(terms)
        per_table.append(
            f"SELECT vec_id, {ti} AS table_id, CAST({bucket} AS INT) AS bucket"
            " FROM embeddings"
        )
    buckets = " UNION ALL ".join(per_table)
    return f"""
    WITH b AS ({buckets}),
    cand AS (
      SELECT DISTINCT qb.vec_id AS query_id, cb.vec_id AS cand_id
      FROM b qb
      JOIN b cb ON cb.table_id = qb.table_id AND cb.bucket = qb.bucket
                AND cb.vec_id <> qb.vec_id
      WHERE qb.vec_id < {N_QUERIES}
    ),
    scored AS (
      SELECT c.query_id, c.cand_id, round({cos}, 6) AS cos_sim
      FROM cand c
      JOIN embeddings q ON q.vec_id = c.query_id
      JOIN embeddings e ON e.vec_id = c.cand_id
    )
    SELECT query_id, cand_id, cos_sim FROM (
      SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY cos_sim DESC, cand_id) AS rn
      FROM scored
    ) WHERE rn <= {LSH_TOPK}
    """


@_q("lsh_multitable_ann", _sql_lsh_multitable())
def q_lsh_multitable_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from ..operators.similarity import lsh_multitable_buckets

    emb = t(spark, sf_dir, "embeddings")
    b = lsh_multitable_buckets(
        emb, "embedding", "vec_id", dim=DIM, n_tables=N_TABLES, n_planes=PLANES_PER_TABLE
    )
    qb = b.where(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), "table_id", "bucket"
    )
    cb = b.select(F.col("vec_id").alias("cand_id"), "table_id", "bucket")
    cand = (
        qb.join(cb, ["table_id", "bucket"])
        .where(F.col("cand_id") != F.col("query_id"))
        .select("query_id", "cand_id")
        .distinct()
    )
    qe = emb.select(F.col("vec_id").alias("query_id"), F.col("embedding").alias("qe"))
    ce = emb.select(F.col("vec_id").alias("cand_id"), F.col("embedding").alias("cand_e"))
    scored = cand.join(F.broadcast(qe), "query_id").join(ce, "cand_id").select(
        "query_id",
        "cand_id",
        F.round(
            cosine_similarity(
                as_double_array(F.col("qe")), as_double_array(F.col("cand_e"))
            ),
            6,
        ).alias("cos_sim"),
    )
    w_top = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc("cand_id"))
    return (
        scored.withColumn("rn", F.row_number().over(w_top))
        .where(F.col("rn") <= LSH_TOPK)
        .select("query_id", "cand_id", "cos_sim")
    )


# ---------------------------------------------------------------------------
# Per-dimension quantile normalization of embeddings — the rank-based
# scaling step of ML preprocessing (robust to arbitrary marginal
# distributions, unlike mean/std standardization). posexplode to
# (vec, dim, value), percent_rank per dimension (the shuffle key is
# the dimension — 64 partitions of ~n values each, embarrassingly
# parallel), re-assemble by sorting on position within each vector.
# Output: first 8 dims of 5 probe vectors (bounded, hash-checkable).
@_q(
    "embedding_quantile_norm",
    """
    WITH exploded AS (
      SELECT vec_id, CAST(u.pos AS BIGINT) AS pos, u.val
      FROM embeddings,
           LATERAL (SELECT unnest(generate_series(1, 8)) AS pos,
                           unnest(embedding[1:8]) AS val) u
    ),
    ranked AS (
      SELECT vec_id, pos,
             round(percent_rank() OVER
                   (PARTITION BY pos ORDER BY val, vec_id), 6) AS q
      FROM exploded
    )
    SELECT vec_id, pos, q
    FROM ranked WHERE vec_id < 5
    """,
)
def q_embedding_quantile_norm(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    emb = t(spark, sf_dir, "embeddings")
    exploded = emb.select(
        "vec_id",
        F.posexplode(F.slice(F.col("embedding"), 1, 8)).alias("pos0", "val"),
    ).select("vec_id", (F.col("pos0") + 1).cast("bigint").alias("pos"), "val")
    w = Window.partitionBy("pos").orderBy(F.asc("val"), F.asc("vec_id"))
    ranked = exploded.select(
        "vec_id", "pos", F.round(F.percent_rank().over(w), 6).alias("q")
    )
    return ranked.where(F.col("vec_id") < 5)


# ---------------------------------------------------------------------------
# Johnson-Lindenstrauss random projection with a distortion report:
# 64-dim embeddings project to 8 dims through a ±1 sign matrix whose
# entries are md5 parity (engine-reproducible randomness, the LSH
# plane idiom), and the report measures how well pairwise distances
# survive: distortion = sqrt((proj_d2/k) / orig_d2) per sampled
# pair. EXACT LATTICE trick: coordinates quantize to round(x*1e6)
# BIGINTs and the sign matrix is ±1, so projected coordinates and
# both squared distances are exact integers (DECIMAL(38,0) sums) —
# a float geometry pipeline whose only float op is the final
# sqrt/ratio. Scale: the sign matrix is k x d rows broadcast; each
# vector's projection is one grouped sum — the same bounded shape as
# IVF assignment.
_JL_K = 8
_JL_D = 64


def _sql_jl() -> str:
    return f"""
    WITH planes AS MATERIALIZED (
      SELECT j, i,
             CASE WHEN CAST(('0x' || substring(
                      md5('jl|' || CAST(j AS VARCHAR) || '|' || CAST(i AS VARCHAR)),
                      1, 1)) AS INTEGER) % 2 = 0
                  THEN 1 ELSE -1 END AS sgn
      FROM (SELECT unnest(generate_series(0, {_JL_K - 1})) AS j),
           (SELECT unnest(generate_series(1, {_JL_D})) AS i)
    ), pts AS (
      SELECT vec_id, i,
             -- DOUBLE first: FLOAT[] element * int stays float32 in
             -- DuckDB and quantizes off-by-one vs the double path
             CAST(round(CAST(embedding[i] AS DOUBLE) * 1000000) AS BIGINT) AS xi
      FROM embeddings, LATERAL unnest(generate_series(1, {_JL_D})) AS s(i)
    ), proj AS MATERIALIZED (
      SELECT p.vec_id, pl.j, SUM(p.xi * pl.sgn) AS pj
      FROM pts p JOIN planes pl ON pl.i = p.i
      GROUP BY p.vec_id, pl.j
    ), pairs AS (
      SELECT a.vec_id AS id_a, b.vec_id AS id_b
      FROM embeddings a JOIN embeddings b ON b.vec_id = a.vec_id + 20
    ), od AS (
      SELECT pr.id_a, pr.id_b,
             SUM(CAST((pa.xi - pb.xi) * (pa.xi - pb.xi) AS DECIMAL(38,0)))
               AS orig_d2
      FROM pairs pr
      JOIN pts pa ON pa.vec_id = pr.id_a
      JOIN pts pb ON pb.vec_id = pr.id_b AND pb.i = pa.i
      GROUP BY pr.id_a, pr.id_b
    ), pd AS (
      SELECT pr.id_a, pr.id_b,
             SUM(CAST((qa.pj - qb.pj) * (qa.pj - qb.pj) AS DECIMAL(38,0)))
               AS proj_d2
      FROM pairs pr
      JOIN proj qa ON qa.vec_id = pr.id_a
      JOIN proj qb ON qb.vec_id = pr.id_b AND qb.j = qa.j
      GROUP BY pr.id_a, pr.id_b
    )
    SELECT od.id_a, od.id_b,
           round(sqrt(CAST(od.orig_d2 AS DOUBLE) / {_JL_D}) / 1000000.0, 6)
             AS orig_dist_scaled,
           -- E[proj_d2] = k * orig_d2 for a +-1 matrix, so the
           -- unbiased ratio is (proj_d2/k) / orig_d2
           round(sqrt((CAST(pd.proj_d2 AS DOUBLE) / {_JL_K})
                      / CAST(od.orig_d2 AS DOUBLE)), 6)
             AS distortion
    FROM od JOIN pd ON pd.id_a = od.id_a AND pd.id_b = od.id_b
    WHERE od.orig_d2 > 0
    """


@_q("jl_projection_distortion", _sql_jl())
def q_jl_projection_distortion(spark: SparkSession, sf_dir: str) -> DataFrame:
    import hashlib

    emb = t(spark, sf_dir, "embeddings")
    planes = emb.sparkSession.createDataFrame(
        [
            (
                j,
                i,
                1
                if int(hashlib.md5(f"jl|{j}|{i}".encode()).hexdigest()[0], 16) % 2
                == 0
                else -1,
            )
            for j in range(_JL_K)
            for i in range(1, _JL_D + 1)
        ],
        "j int, i int, sgn int",
    )
    pts = emb.select(
        "vec_id", F.posexplode("embedding").alias("pos0", "x")
    ).select(
        "vec_id",
        (F.col("pos0") + 1).alias("i"),
        F.round(F.col("x") * 1000000).cast("bigint").alias("xi"),
    )
    proj = (
        pts.join(F.broadcast(planes), "i")
        .groupBy("vec_id", "j")
        .agg(F.sum(F.col("xi") * F.col("sgn")).alias("pj"))
    )
    ids = emb.select("vec_id")
    pairs = ids.select(F.col("vec_id").alias("id_a")).join(
        ids.select(F.col("vec_id").alias("id_b")),
        F.col("id_b") == F.col("id_a") + 20,
    )
    pa = pts.select(F.col("vec_id").alias("id_a"), "i", F.col("xi").alias("xa"))
    pb = pts.select(F.col("vec_id").alias("id_b"), "i", F.col("xi").alias("xb"))
    od = (
        pairs.join(pa, "id_a")
        .join(pb, ["id_b", "i"])
        .groupBy("id_a", "id_b")
        .agg(
            F.sum(
                ((F.col("xa") - F.col("xb")) * (F.col("xa") - F.col("xb"))).cast(
                    "decimal(38,0)"
                )
            ).alias("orig_d2")
        )
    )
    qa = proj.select(F.col("vec_id").alias("id_a"), "j", F.col("pj").alias("pja"))
    qb = proj.select(F.col("vec_id").alias("id_b"), "j", F.col("pj").alias("pjb"))
    pd_ = (
        pairs.join(qa, "id_a")
        .join(qb, ["id_b", "j"])
        .groupBy("id_a", "id_b")
        .agg(
            F.sum(
                ((F.col("pja") - F.col("pjb")) * (F.col("pja") - F.col("pjb"))).cast(
                    "decimal(38,0)"
                )
            ).alias("proj_d2")
        )
    )
    return (
        od.join(pd_, ["id_a", "id_b"])
        .where(F.col("orig_d2") > 0)
        .select(
            "id_a",
            "id_b",
            F.round(
                F.sqrt(F.col("orig_d2").cast("double") / _JL_D) / 1000000.0, 6
            ).alias("orig_dist_scaled"),
            F.round(
                F.sqrt(
                    (F.col("proj_d2").cast("double") / _JL_K)
                    / F.col("orig_d2").cast("double")
                ),
                6,
            ).alias("distortion"),
        )
    )


# ---------------------------------------------------------------------------
# Per-dimension embedding statistics — the drift/normalization monitor
# an embedding pipeline runs on every batch (collapsed dimensions,
# scale creep, dead units). Values quantize to the 1e-6 integer
# lattice; mean/std come from exact integer power sums per dimension;
# the only floats are the final divisions/sqrt. One posexplode + one
# aggregation: dims × 4 numbers out, any corpus size.
@_q(
    "embedding_dimension_stats",
    """
    WITH pts AS (
      SELECT i AS dim,
             CAST(round(CAST(embedding[i] AS DOUBLE) * 1000000) AS BIGINT)
               AS xi
      FROM embeddings, LATERAL unnest(generate_series(1, len(embedding))) AS s(i)
    )
    SELECT CAST(dim AS BIGINT) AS dim, CAST(COUNT(*) AS BIGINT) AS n,
           round(CAST(SUM(xi) AS DOUBLE) / COUNT(*) / 1000000.0, 6) AS mean_v,
           round(sqrt((CAST(SUM(CAST(xi AS DECIMAL(38,0)) * xi) AS DOUBLE)
                       - CAST(SUM(xi) AS DOUBLE) * SUM(xi) / COUNT(*))
                      / (COUNT(*) - 1)) / 1000000.0, 6) AS std_v,
           round(min(xi) / 1000000.0, 6) AS min_v,
           round(max(xi) / 1000000.0, 6) AS max_v
    FROM pts GROUP BY dim ORDER BY dim
    """,
)
def q_embedding_dimension_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = t(spark, sf_dir, "embeddings")
    pts = emb.select(F.posexplode("embedding").alias("pos0", "x")).select(
        (F.col("pos0") + 1).alias("dim"),
        F.round(F.col("x").cast("double") * 1000000).cast("bigint").alias("xi"),
    )
    n = F.count(F.lit(1))
    s1 = F.sum("xi")
    s2 = F.sum(F.col("xi").cast("decimal(38,0)") * F.col("xi"))
    return (
        pts.groupBy("dim")
        .agg(
            n.alias("n"),
            F.round(s1.cast("double") / n / 1000000.0, 6).alias("mean_v"),
            F.round(
                F.sqrt(
                    (s2.cast("double") - s1.cast("double") * s1 / n) / (n - 1)
                )
                / 1000000.0,
                6,
            ).alias("std_v"),
            F.round(F.min("xi") / 1000000.0, 6).alias("min_v"),
            F.round(F.max("xi") / 1000000.0, 6).alias("max_v"),
        )
        .select(
            F.col("dim").cast("bigint").alias("dim"),
            F.col("n").cast("bigint").alias("n"),
            "mean_v",
            "std_v",
            "min_v",
            "max_v",
        )
        .orderBy("dim")
    )


# ---------------------------------------------------------------------------
# Embedding covariance screen: top dimension PAIRS by |covariance| —
# the feature-redundancy audit run before whitening/PCA of an
# embedding table. Distributed-covariance shape: each row contributes
# its 2016 (i<j) quantized coordinate products ROW-LOCALLY (a flatten/
# transform projection — no join, no per-pair shuffle); one
# aggregation reduces to the 2016-cell pair-sum table, and the per-dim
# sums come from the same one-pass posexplode as
# embedding_dimension_stats. FP discipline: coordinates quantize to
# the 1e-6 integer lattice FIRST, so every sum/product is exact
# (DECIMAL(38,0) partials) and the only float math is the final
# covariance expression, fixed-shape in both engines.
@_q(
    "embedding_covariance_pairs",
    """
    WITH q AS MATERIALIZED (
      SELECT list_transform(CAST(embedding AS DOUBLE[]),
                            x -> CAST(round(x * 1000000) AS BIGINT)) AS qv
      FROM embeddings
    ), pairs AS (
      SELECT i AS di, j AS dj, qv[i] * qv[j] AS p
      FROM q,
           LATERAL unnest(generate_series(1, len(qv) - 1)) AS s(i),
           LATERAL unnest(generate_series(i + 1, len(qv))) AS t2(j)
    ), psum AS (
      SELECT di, dj, SUM(CAST(p AS DECIMAL(38,0))) AS sp
      FROM pairs GROUP BY di, dj
    ), dims AS (
      SELECT i AS dim, SUM(qv[i]) AS s1
      FROM q, LATERAL unnest(generate_series(1, len(qv))) AS s(i)
      GROUP BY i
    ), nrow AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM q)
    SELECT CAST(di AS BIGINT) AS dim_i, CAST(dj AS BIGINT) AS dim_j,
           round((CAST(sp AS DOUBLE) - CAST(a.s1 AS DOUBLE) * b.s1 / n)
                 / (n - 1) / 1000000000000.0, 6) AS cov_v
    FROM psum JOIN dims a ON a.dim = di JOIN dims b ON b.dim = dj, nrow
    ORDER BY abs(round((CAST(sp AS DOUBLE) - CAST(a.s1 AS DOUBLE) * b.s1 / n)
                 / (n - 1) / 1000000000000.0, 6)) DESC, di, dj
    LIMIT 10
    """,
)
def q_embedding_covariance_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = t(spark, sf_dir, "embeddings")
    q = emb.select(
        F.expr(
            "transform(embedding,"
            " x -> cast(round(cast(x as double) * 1000000) as bigint))"
        ).alias("qv")
    ).localCheckpoint(eager=False)  # pair products + dim sums + n share it
    pairs = q.select(
        F.explode(
            F.expr(
                "flatten(transform(sequence(1, size(qv) - 1),"
                " i -> transform(sequence(i + 1, size(qv)),"
                " j -> struct(i AS di, j AS dj,"
                " element_at(qv, i) * element_at(qv, j) AS p))))"
            )
        ).alias("pr")
    ).select("pr.di", "pr.dj", "pr.p")
    psum = pairs.groupBy("di", "dj").agg(
        F.sum(F.col("p").cast("decimal(38,0)")).alias("sp")
    )
    dims = q.select(F.posexplode("qv").alias("pos0", "x")).select(
        (F.col("pos0") + 1).alias("dim"), F.col("x").alias("xi")
    ).groupBy("dim").agg(F.sum("xi").alias("s1"))
    nrow = q.agg(F.count(F.lit(1)).cast("double").alias("n"))
    a = dims.select(F.col("dim").alias("di"), F.col("s1").alias("s1_a"))
    b = dims.select(F.col("dim").alias("dj"), F.col("s1").alias("s1_b"))
    cov = F.round(
        (
            F.col("sp").cast("double")
            - F.col("s1_a").cast("double") * F.col("s1_b") / F.col("n")
        )
        / (F.col("n") - 1)
        / 1000000000000.0,
        6,
    )
    return (
        psum.join(F.broadcast(a), "di")
        .join(F.broadcast(b), "dj")
        .join(F.broadcast(nrow))
        .select(
            F.col("di").cast("bigint").alias("dim_i"),
            F.col("dj").cast("bigint").alias("dim_j"),
            cov.alias("cov_v"),
        )
        .orderBy(F.abs(F.col("cov_v")).desc(), "dim_i", "dim_j")
        .limit(10)
    )


# ---------------------------------------------------------------------------
# ANN recall report — the quality measurement behind the ANN tier,
# promoted from test-only (tests/test_ann_recall.py pins floors) to a
# driver-visible query: for each sampled query vector, recall@10 of
# the sign-LSH bucket's top-10 against the exact brute-force top-10.
# The exact arm is deliberately brute force (that IS the ground
# truth); its cost is bounded by the SAMPLED query set — the landmark
# pattern that makes recall measurable at any corpus size. Recalls
# are exact multiples of 1/(10*nq) (integer hit counts), so the mean
# needs no float accumulation; ranking ties break on (rounded cos,
# vec_id) in both engines.
_RECALL_QMOD = 50  # vec_id % 50 == 0 -> 10 query vectors


def _sql_ann_recall() -> str:
    buckets = _sql_lsh_buckets()
    cos_eq = _sql_cosine("e.embedding", "q.qv")
    return f"""
    WITH q AS MATERIALIZED (
      SELECT vec_id AS qid, embedding AS qv FROM embeddings
      WHERE vec_id % {_RECALL_QMOD} = 0
    ),
    exact AS (
      SELECT qid, vec_id FROM (
        SELECT q.qid, e.vec_id,
               row_number() OVER (
                 PARTITION BY q.qid
                 ORDER BY round({cos_eq}, 6) DESC, e.vec_id
               ) AS rn
        FROM embeddings e CROSS JOIN q
        WHERE e.vec_id <> q.qid
      ) WHERE rn <= 10
    ),
    buckets AS MATERIALIZED ({buckets}),
    cand AS MATERIALIZED (
      SELECT q.qid, c.vec_id
      FROM q JOIN buckets bq ON bq.vec_id = q.qid
      JOIN buckets c ON c.bucket = bq.bucket AND c.vec_id <> q.qid
    ),
    top_cand AS (
      SELECT qid, vec_id FROM (
        SELECT cand.qid, cand.vec_id,
               row_number() OVER (
                 PARTITION BY cand.qid
                 ORDER BY round({cos_eq}, 6) DESC, e.vec_id
               ) AS rn
        FROM cand JOIN embeddings e ON e.vec_id = cand.vec_id
        JOIN q ON q.qid = cand.qid
      ) WHERE rn <= 10
    ),
    hits AS (
      SELECT exact.qid, COUNT(*) AS h
      FROM exact JOIN top_cand
        ON top_cand.qid = exact.qid AND top_cand.vec_id = exact.vec_id
      GROUP BY exact.qid
    ),
    ccount AS (SELECT qid, COUNT(*) AS nc FROM cand GROUP BY qid),
    agg AS (
      SELECT COUNT(*) AS n_queries,
             SUM(COALESCE(h.h, 0)) AS total_hits,
             SUM(COALESCE(c.nc, 0)) AS total_cands
      FROM q LEFT JOIN hits h ON h.qid = q.qid
      LEFT JOIN ccount c ON c.qid = q.qid
    )
    SELECT CAST(n_queries AS BIGINT) AS n_queries,
           CAST(total_hits AS BIGINT) AS total_hits,
           round(CAST(total_hits AS DOUBLE) / (10 * n_queries), 6)
             AS recall_at_10,
           round(CAST(total_cands AS DOUBLE) / n_queries, 6)
             AS mean_bucket_candidates
    FROM agg
    """


@_q("ann_recall_report", _sql_ann_recall())
def q_ann_recall_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from ..operators.similarity import lsh_ann_buckets as lsh_buckets_op

    emb = t(spark, sf_dir, "embeddings")
    base = emb.select(
        "vec_id", as_double_array(F.col("embedding")).alias("e")
    ).localCheckpoint(eager=False)  # exact arm + candidate arm share it
    q = base.where(F.col("vec_id") % _RECALL_QMOD == 0).select(
        F.col("vec_id").alias("qid"), F.col("e").alias("qv")
    )
    sim = F.round(cosine_similarity(F.col("e"), F.col("qv")), 6)
    w = Window.partitionBy("qid").orderBy(F.desc("sim"), F.asc("vec_id"))
    exact = (
        base.crossJoin(F.broadcast(q))
        .where(F.col("vec_id") != F.col("qid"))
        .select("qid", "vec_id", sim.alias("sim"))
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 10)
        .select("qid", "vec_id")
    )
    buckets = lsh_buckets_op(
        emb, "embedding", "vec_id", dim=DIM, n_planes=N_PLANES
    ).select("vec_id", "bucket").localCheckpoint(eager=False)
    qb = q.join(
        buckets.select(F.col("vec_id").alias("qid"), "bucket"), "qid"
    )
    cand = (
        qb.join(buckets, "bucket")
        .where(F.col("vec_id") != F.col("qid"))
        .select("qid", "qv", "vec_id")
        .localCheckpoint(eager=False)  # top-10 + count consumers
    )
    top_cand = (
        cand.join(base, "vec_id")
        .select("qid", "vec_id", sim.alias("sim"))
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 10)
        .select("qid", "vec_id")
    )
    hits = exact.join(top_cand, ["qid", "vec_id"]).groupBy("qid").agg(
        F.count(F.lit(1)).alias("h")
    )
    ccount = cand.groupBy("qid").agg(F.count(F.lit(1)).alias("nc"))
    return (
        q.select("qid")
        .join(hits, "qid", "left")
        .join(ccount, "qid", "left")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_queries"),
            F.sum(F.coalesce(F.col("h"), F.lit(0)))
            .cast("bigint")
            .alias("total_hits"),
            F.round(
                F.sum(F.coalesce(F.col("h"), F.lit(0))).cast("double")
                / (10 * F.count(F.lit(1))),
                6,
            ).alias("recall_at_10"),
            F.round(
                F.sum(F.coalesce(F.col("nc"), F.lit(0))).cast("double")
                / F.count(F.lit(1)),
                6,
            ).alias("mean_bucket_candidates"),
        )
    )


# ---------------------------------------------------------------------------
# Davies-Bouldin cluster-separation index over the labelled embedding
# space — the centroid-separation audit that complements
# cluster_silhouette_report (silhouette is point-pair based; DB is
# centroid based and O(k^2), the form you can afford at every batch).
# EXACT-LATTICE trick (same seam as embedding_dimension_stats / the
# JL query): coordinates quantize to round(x*1e6) BIGINT; per-label
# centroid stays a RATIONAL (sum s, count n) pair; every point/
# centroid distance^2 becomes one exact integer quadratic —
#   point:    sum_d (xi*n - s_d)^2        / (n^2 * 1e12)
#   centroid: sum_d (s_i*n_j - s_j*n_i)^2 / (n_i^2 * n_j^2 * 1e12)
# accumulated in DECIMAL(38,0)/HUGEINT (the cross terms overflow
# BIGINT), with ONE double division + sqrt at the end — both engines
# see identical integers, so the floats are bit-identical before the
# final round(6). Plan: one posexplode + two bounded aggregations
# (|labels| x dims and |labels|^2 x dims rows); nothing quadratic in
# points anywhere.
def _sql_davies_bouldin() -> str:
    return """
    WITH pts AS (
      SELECT vec_id, label, i AS dim,
             CAST(round(CAST(embedding[i] AS DOUBLE) * 1000000) AS BIGINT)
               AS xi
      FROM embeddings, LATERAL unnest(generate_series(1, len(embedding))) AS s(i)
    ),
    cent AS (
      SELECT label, dim, SUM(xi) AS s, COUNT(*) AS n
      FROM pts GROUP BY label, dim
    ),
    pd AS (
      SELECT p.vec_id, p.label,
             SUM(CAST(p.xi * c.n - c.s AS HUGEINT)
                 * (p.xi * c.n - c.s)) AS d2
      FROM pts p JOIN cent c ON c.label = p.label AND c.dim = p.dim
      GROUP BY p.vec_id, p.label
    ),
    scatter AS (
      SELECT label, MAX(n) AS n,
             sqrt(CAST(SUM(d2) AS DOUBLE)
                  / (CAST(MAX(n) AS DOUBLE) * MAX(n) * MAX(n))) / 1000000.0
               AS s_i
      FROM (SELECT pd.label, pd.vec_id, pd.d2, c.n
            FROM pd JOIN (SELECT label, MAX(n) AS n FROM cent
                          GROUP BY label) c ON c.label = pd.label)
      GROUP BY label
    ),
    cdist AS (
      SELECT a.label AS la, b.label AS lb,
             sqrt(CAST(SUM(CAST(a.s * b.n - b.s * a.n AS HUGEINT)
                           * (a.s * b.n - b.s * a.n)) AS DOUBLE)
                  / (CAST(MAX(a.n) AS DOUBLE) * MAX(a.n)
                     * MAX(b.n) * MAX(b.n))) / 1000000.0 AS m_ij
      FROM cent a JOIN cent b ON a.dim = b.dim AND a.label <> b.label
      GROUP BY a.label, b.label
    ),
    r AS (
      SELECT d.la AS label, d.lb AS peer,
             (sa.s_i + sb.s_i) / d.m_ij AS r_ij
      FROM cdist d
      JOIN scatter sa ON sa.label = d.la
      JOIN scatter sb ON sb.label = d.lb
    ),
    best AS (
      SELECT label,
             CAST(MIN(peer) FILTER (r_ij = mx) AS BIGINT) AS worst_peer,
             MAX(mx) AS r_max
      FROM (SELECT label, peer, r_ij, MAX(r_ij) OVER (PARTITION BY label) AS mx
            FROM r)
      WHERE r_ij = mx
      GROUP BY label
    )
    SELECT CAST(b.label AS BIGINT) AS label,
           CAST(s.n AS BIGINT) AS n_points,
           round(s.s_i, 6) AS scatter,
           b.worst_peer,
           round(b.r_max, 6) AS r_max,
           round((SELECT AVG(r_max) FROM best), 6) AS db_index
    FROM best b JOIN scatter s ON s.label = b.label
    ORDER BY label
    """


@_q("davies_bouldin_index", _sql_davies_bouldin())
def q_davies_bouldin_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = t(spark, sf_dir, "embeddings")
    pts = emb.select(
        "vec_id",
        "label",
        F.posexplode("embedding").alias("pos0", "x"),
    ).select(
        "vec_id",
        "label",
        (F.col("pos0") + 1).alias("dim"),
        F.round(F.col("x").cast("double") * 1000000).cast("bigint").alias("xi"),
    )
    cent = pts.groupBy("label", "dim").agg(
        F.sum("xi").alias("s"), F.count(F.lit(1)).alias("n")
    )
    c = cent.select(
        F.col("label").alias("c_label"),
        F.col("dim").alias("c_dim"),
        "s",
        "n",
    )
    diff = F.col("xi") * F.col("n") - F.col("s")
    pd_ = (
        pts.join(
            c,
            (pts["label"] == c["c_label"]) & (pts["dim"] == c["c_dim"]),
        )
        .groupBy("vec_id", "label")
        .agg(F.sum(diff.cast("decimal(38,0)") * diff).alias("d2"))
    )
    nper = cent.groupBy("label").agg(F.max("n").alias("n"))
    scatter = (
        pd_.join(nper, "label")
        .groupBy("label")
        .agg(
            F.max("n").alias("n"),
            (
                F.sqrt(
                    F.sum("d2").cast("double")
                    / (
                        F.max("n").cast("double")
                        * F.max("n")
                        * F.max("n")
                    )
                )
                / 1000000.0
            ).alias("s_i"),
        )
    )
    a = cent.select(
        F.col("label").alias("la"), "dim",
        F.col("s").alias("sa"), F.col("n").alias("na"),
    )
    b = cent.select(
        F.col("label").alias("lb"), F.col("dim").alias("dimb"),
        F.col("s").alias("sb"), F.col("n").alias("nb"),
    )
    cd = F.col("sa") * F.col("nb") - F.col("sb") * F.col("na")
    cdist = (
        a.join(b, (a["dim"] == b["dimb"]) & (a["la"] != b["lb"]))
        .groupBy("la", "lb")
        .agg(
            (
                F.sqrt(
                    F.sum(cd.cast("decimal(38,0)") * cd).cast("double")
                    / (
                        F.max("na").cast("double")
                        * F.max("na")
                        * F.max("nb")
                        * F.max("nb")
                    )
                )
                / 1000000.0
            ).alias("m_ij")
        )
    )
    sa = scatter.select(F.col("label").alias("la"), F.col("s_i").alias("si_a"))
    sb = scatter.select(F.col("label").alias("lb"), F.col("s_i").alias("si_b"))
    r = (
        cdist.join(sa, "la")
        .join(sb, "lb")
        .select(
            F.col("la").alias("label"),
            F.col("lb").alias("peer"),
            ((F.col("si_a") + F.col("si_b")) / F.col("m_ij")).alias("r_ij"),
        )
    )
    # max R with deterministic min-peer tie: max(struct(r, -peer))
    best = r.groupBy("label").agg(
        F.max(F.struct(F.col("r_ij"), (-F.col("peer")).alias("np"))).alias("m")
    ).select(
        "label",
        (-F.col("m.np")).cast("bigint").alias("worst_peer"),
        F.col("m.r_ij").alias("r_max"),
    )
    db = best.agg(F.round(F.avg("r_max"), 6).alias("db_index"))
    return (
        best.join(scatter, "label")
        .join(F.broadcast(db))  # 1-row global index
        .select(
            F.col("label").cast("bigint").alias("label"),
            F.col("n").cast("bigint").alias("n_points"),
            F.round("s_i", 6).alias("scatter"),
            "worst_peer",
            F.round("r_max", 6).alias("r_max"),
            "db_index",
        )
        .orderBy("label")
    )


# ---------------------------------------------------------------------------
# Residual quantization (two-level additive codebook) quality report —
# the RQ counterpart of the PQ tier (pq_queries quantize by
# SUBSPACE; RQ quantizes the RESIDUAL left by the previous level,
# cf. Chen et al. 2010 residual vector quantization). Deterministic
# codebooks: level 1 = per-label centroid (the coarse quantizer),
# level 2 = centroid of level-1 residuals within deterministic
# subgroup vec_id % 4 — no trained k-means, so the oracle rebuilds
# the identical codebooks and the report hash-checks. Same exact-
# lattice discipline as davies_bouldin_index: residuals stay
# integer-scaled rationals (denominator n for level 1, n*m for level
# 2); the quadratic error sums accumulate in DECIMAL(38,0)/HUGEINT;
# one double division at the end. The informative output: per-label
# squared error after level 1 vs after level 2 — the "does the
# second codebook earn its bits" audit.
def _sql_residual_quantization() -> str:
    return """
    WITH pts AS (
      SELECT vec_id, label, vec_id % 4 AS grp, i AS dim,
             CAST(round(CAST(embedding[i] AS DOUBLE) * 1000000) AS BIGINT)
               AS xi
      FROM embeddings, LATERAL unnest(generate_series(1, len(embedding))) AS s(i)
    ),
    cent AS (
      SELECT label, dim, SUM(xi) AS s, COUNT(*) AS n
      FROM pts GROUP BY label, dim
    ),
    res AS (
      SELECT p.vec_id, p.label, p.grp, p.dim,
             p.xi * c.n - c.s AS rq, c.n
      FROM pts p JOIN cent c ON c.label = p.label AND c.dim = p.dim
    ),
    c2 AS (
      SELECT label, grp, dim, SUM(rq) AS s2, COUNT(*) AS m
      FROM res GROUP BY label, grp, dim
    ),
    err AS (
      SELECT r.label,
             SUM(CAST(r.rq AS HUGEINT) * r.rq) AS e1num,
             MAX(r.n) AS n,
             COUNT(DISTINCT r.vec_id) AS npts
      FROM res r
      GROUP BY r.label
    ),
    e2g AS (
      SELECT r.label, g.m,
             SUM(CAST(r.rq * g.m - g.s2 AS HUGEINT)
                 * (r.rq * g.m - g.s2)) AS e2num
      FROM res r JOIN c2 g ON g.label = r.label AND g.grp = r.grp
                          AND g.dim = r.dim
      GROUP BY r.label, g.m
    ),
    e2 AS (
      SELECT label,
             SUM(CAST(e2num AS DOUBLE)
                 / (CAST(m AS DOUBLE) * m)) AS e2scaled
      FROM e2g GROUP BY label
    )
    SELECT CAST(e.label AS BIGINT) AS label,
           CAST(e.npts AS BIGINT) AS n_points,
           round(CAST(e.e1num AS DOUBLE)
                 / (CAST(e.n AS DOUBLE) * e.n)
                 / e.npts / 1000000000000.0, 6) AS mse_level1,
           round(x.e2scaled
                 / (CAST(e.n AS DOUBLE) * e.n)
                 / e.npts / 1000000000000.0, 6) AS mse_level2
    FROM err e JOIN e2 x ON x.label = e.label
    ORDER BY label
    """


@_q("residual_quantization_report", _sql_residual_quantization())
def q_residual_quantization_report(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    emb = t(spark, sf_dir, "embeddings")
    pts = emb.select(
        "vec_id",
        "label",
        (F.col("vec_id") % 4).alias("grp"),
        F.posexplode("embedding").alias("pos0", "x"),
    ).select(
        "vec_id",
        "label",
        "grp",
        (F.col("pos0") + 1).alias("dim"),
        F.round(F.col("x").cast("double") * 1000000).cast("bigint").alias("xi"),
    )
    cent = pts.groupBy("label", "dim").agg(
        F.sum("xi").alias("s"), F.count(F.lit(1)).alias("n")
    )
    c = cent.select(
        F.col("label").alias("c_label"),
        F.col("dim").alias("c_dim"),
        "s",
        "n",
    )
    res = pts.join(
        c, (pts["label"] == c["c_label"]) & (pts["dim"] == c["c_dim"])
    ).select(
        "vec_id",
        "label",
        "grp",
        "dim",
        (F.col("xi") * F.col("n") - F.col("s")).alias("rq"),
        "n",
    )
    c2 = res.groupBy("label", "grp", "dim").agg(
        F.sum("rq").alias("s2"), F.count(F.lit(1)).alias("m")
    )
    g = c2.select(
        F.col("label").alias("g_label"),
        F.col("grp").alias("g_grp"),
        F.col("dim").alias("g_dim"),
        "s2",
        "m",
    )
    j = res.join(
        g,
        (res["label"] == g["g_label"])
        & (res["grp"] == g["g_grp"])
        & (res["dim"] == g["g_dim"]),
    )
    r2 = F.col("rq") * F.col("m") - F.col("s2")
    # per (label, m) partial so the m^2 scaling divides EXACT integer
    # sums (subgroup sizes differ, so e2 cannot scale globally)
    e2g = j.groupBy("label", "m").agg(
        F.sum(r2.cast("decimal(38,0)") * r2).alias("e2num")
    )
    e2 = e2g.groupBy("label").agg(
        F.sum(
            F.col("e2num").cast("double")
            / (F.col("m").cast("double") * F.col("m"))
        ).alias("e2scaled")
    )
    err = j.groupBy("label").agg(
        F.sum(F.col("rq").cast("decimal(38,0)") * F.col("rq")).alias("e1num"),
        F.max("n").alias("n"),
        F.countDistinct("vec_id").alias("npts"),
    )
    return (
        err.join(e2, "label")
        .select(
            F.col("label").cast("bigint").alias("label"),
            F.col("npts").cast("bigint").alias("n_points"),
            F.round(
                F.col("e1num").cast("double")
                / (F.col("n").cast("double") * F.col("n"))
                / F.col("npts")
                / 1000000000000.0,
                6,
            ).alias("mse_level1"),
            F.round(
                F.col("e2scaled")
                / (F.col("n").cast("double") * F.col("n"))
                / F.col("npts")
                / 1000000000000.0,
                6,
            ).alias("mse_level2"),
        )
        .orderBy("label")
    )


# ---------------------------------------------------------------------------
# Rank-biased overlap (Webber et al. 2010) between two top-k
# neighbor rankings of the same query vector — cosine vs raw L2 — the
# rank-AWARE agreement audit that recall@k can't express (recall
# treats position 1 and position k the same; RBO geometrically
# discounts depth with persistence p). Both rankings are
# deterministic: L2 distances are exact integer lattice quadratics;
# cosine ranks by the round(6) similarity with vec_id tie-break; the
# per-depth overlap X_d is an exact integer (count of items whose
# max(rank_a, rank_b) <= d), and the truncated RBO_min sum runs in a
# fixed-order cumulative window — engine-identical floats. k = 20,
# p = 0.9. Plan: two TakeOrderedAndProject top-k's + one |k|-row
# join; the quadratic work is k^2 = 400 comparisons, never corpus².
_RBO_K = 20
_RBO_P = 0.9


def _sql_rbo() -> str:
    norm = _SQL_NORM_A.format(a="e.embedding", n=DIM)
    qnorm = _SQL_NORM_A.format(a="q.qv", n=DIM)
    dot = "list_dot_product(CAST(e.embedding AS DOUBLE[]), CAST(q.qv AS DOUBLE[]))"
    return f"""
    WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
    qq AS (
      SELECT e.vec_id,
             round({dot} / ({norm} * {qnorm} + 1e-12), 6) AS cos_sim,
             list_sum(list_transform(generate_series(1, {DIM}),
               i -> (CAST(round(CAST(e.embedding[i] AS DOUBLE)
                                * 1000000.0) AS BIGINT)
                     - CAST(round(CAST(q.qv[i] AS DOUBLE)
                                  * 1000000.0) AS BIGINT))
                    * (CAST(round(CAST(e.embedding[i] AS DOUBLE)
                                  * 1000000.0) AS BIGINT)
                       - CAST(round(CAST(q.qv[i] AS DOUBLE)
                                    * 1000000.0) AS BIGINT)))) AS d2
      FROM embeddings e, q WHERE e.vec_id <> 0
    ),
    ra AS (
      SELECT vec_id, row_number() OVER (ORDER BY cos_sim DESC, vec_id) AS r
      FROM qq QUALIFY r <= {_RBO_K}
    ),
    rb AS (
      SELECT vec_id, row_number() OVER (ORDER BY d2 ASC, vec_id) AS r
      FROM qq QUALIFY r <= {_RBO_K}
    ),
    m AS (
      SELECT ra.vec_id, GREATEST(ra.r, rb.r) AS mx
      FROM ra JOIN rb ON rb.vec_id = ra.vec_id
    ),
    depths AS (
      SELECT d.d,
             CAST((SELECT COUNT(*) FROM m WHERE m.mx <= d.d) AS BIGINT) AS x_d
      FROM (SELECT unnest(generate_series(1, {_RBO_K})) AS d) d
    )
    SELECT CAST({_RBO_K} AS INT) AS k,
           CAST((SELECT COUNT(*) FROM m) AS BIGINT) AS n_common,
           round(SUM(power({_RBO_P}, d - 1) * x_d / d)
                 * (1.0 - {_RBO_P}), 6) AS rbo_min
    FROM depths
    """


@_q("ann_rbo_overlap", _sql_rbo())
def q_ann_rbo_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from ..functions.vectors import dot, l2_norm

    emb = t(spark, sf_dir, "embeddings")
    q = emb.where(F.col("vec_id") == 0).select(
        as_double_array(F.col("embedding")).alias("qv")
    )
    base = emb.where(F.col("vec_id") != 0).crossJoin(F.broadcast(q))
    e = as_double_array(F.col("embedding"))
    cos = dot(e, F.col("qv")) / (l2_norm(e) * l2_norm(F.col("qv")) + 1e-12)
    mu = lambda c: F.round(c * 1000000.0).cast("bigint")  # noqa: E731
    d2 = F.aggregate(
        F.zip_with(
            F.col("embedding").cast("array<double>"),
            F.col("qv"),
            lambda a, b: (mu(a) - mu(b)) * (mu(a) - mu(b)),
        ),
        F.lit(0).cast("bigint"),
        lambda acc, x: acc + x,
    )
    qq = base.select(
        "vec_id", F.round(cos, 6).alias("cos_sim"), d2.alias("d2")
    ).localCheckpoint(eager=True)  # feeds both rankings
    # top-k FIRST via orderBy+limit (TakeOrderedAndProject: per-
    # partition heaps, no global sort); the rank window then runs
    # over the k-row result only — never a single-partition window
    # over the corpus-derived table
    wa = Window.orderBy(F.desc("cos_sim"), F.asc("vec_id"))
    wb = Window.orderBy(F.asc("d2"), F.asc("vec_id"))
    ra = (
        qq.orderBy(F.desc("cos_sim"), F.asc("vec_id"))
        .limit(_RBO_K)
        .select("vec_id", "cos_sim", F.row_number().over(wa).alias("r"))
    )
    rb = (
        qq.orderBy(F.asc("d2"), F.asc("vec_id"))
        .limit(_RBO_K)
        .select("vec_id", "d2", F.row_number().over(wb).alias("rb"))
    )
    m = ra.join(rb, "vec_id").select(
        "vec_id", F.greatest("r", "rb").alias("mx")
    ).localCheckpoint(eager=True)
    depths = ra.sparkSession.range(1, _RBO_K + 1).select(
        F.col("id").cast("int").alias("d")
    )
    xd = (
        depths.join(F.broadcast(m), F.col("mx") <= F.col("d"), "left")
        .groupBy("d")
        .agg(F.count("vec_id").cast("bigint").alias("x_d"))
    )
    n_common = m.agg(F.count(F.lit(1)).cast("bigint").alias("n_common"))
    return (
        xd.agg(
            F.round(
                F.sum(
                    F.pow(F.lit(_RBO_P), F.col("d") - 1)
                    * F.col("x_d")
                    / F.col("d")
                )
                * (1.0 - _RBO_P),
                6,
            ).alias("rbo_min")
        )
        .crossJoin(F.broadcast(n_common))  # two 1-row aggregates
        .select(
            F.lit(_RBO_K).cast("int").alias("k"),
            "n_common",
            "rbo_min",
        )
    )


# ---------------------------------------------------------------------------
# Reciprocal rank fusion (Cormack et al. 2009) of the cosine and L2
# top-20 rankings — the standard hybrid-search combiner (dense +
# sparse, or any two retrievers): score(d) = Σ_i 1/(60 + rank_i(d)),
# missing-from-list contributes nothing. Ranks come from the same
# deterministic top-k construction as ann_rbo_overlap; the fused
# score is a FIXED two-term expression over integer ranks (one
# division per term, no accumulation), so it is engine-identical
# before the round(9). Fused top-10 via orderBy+limit.
_RRF_K = 60


def _sql_rrf() -> str:
    norm = _SQL_NORM_A.format(a="e.embedding", n=DIM)
    qnorm = _SQL_NORM_A.format(a="q.qv", n=DIM)
    dot = "list_dot_product(CAST(e.embedding AS DOUBLE[]), CAST(q.qv AS DOUBLE[]))"
    return f"""
    WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
    qq AS (
      SELECT e.vec_id,
             round({dot} / ({norm} * {qnorm} + 1e-12), 6) AS cos_sim,
             list_sum(list_transform(generate_series(1, {DIM}),
               i -> (CAST(round(CAST(e.embedding[i] AS DOUBLE)
                                * 1000000.0) AS BIGINT)
                     - CAST(round(CAST(q.qv[i] AS DOUBLE)
                                  * 1000000.0) AS BIGINT))
                    * (CAST(round(CAST(e.embedding[i] AS DOUBLE)
                                  * 1000000.0) AS BIGINT)
                       - CAST(round(CAST(q.qv[i] AS DOUBLE)
                                    * 1000000.0) AS BIGINT)))) AS d2
      FROM embeddings e, q WHERE e.vec_id <> 0
    ),
    ra AS (
      SELECT vec_id, row_number() OVER (ORDER BY cos_sim DESC, vec_id) AS r
      FROM qq QUALIFY r <= 20
    ),
    rb AS (
      SELECT vec_id, row_number() OVER (ORDER BY d2 ASC, vec_id) AS r
      FROM qq QUALIFY r <= 20
    ),
    fused AS (
      SELECT COALESCE(ra.vec_id, rb.vec_id) AS vec_id,
             round(COALESCE(1.0 / ({_RRF_K} + ra.r), 0.0)
                   + COALESCE(1.0 / ({_RRF_K} + rb.r), 0.0), 9) AS rrf_score,
             ra.r AS rank_cos, rb.r AS rank_l2
      FROM ra FULL OUTER JOIN rb ON rb.vec_id = ra.vec_id
    )
    SELECT vec_id, rrf_score,
           CAST(rank_cos AS BIGINT) AS rank_cos,
           CAST(rank_l2 AS BIGINT) AS rank_l2
    FROM fused ORDER BY rrf_score DESC, vec_id LIMIT 10
    """


@_q("reciprocal_rank_fusion", _sql_rrf())
def q_reciprocal_rank_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from ..functions.vectors import dot, l2_norm

    emb = t(spark, sf_dir, "embeddings")
    q = emb.where(F.col("vec_id") == 0).select(
        as_double_array(F.col("embedding")).alias("qv")
    )
    base = emb.where(F.col("vec_id") != 0).crossJoin(F.broadcast(q))
    e = as_double_array(F.col("embedding"))
    cos = dot(e, F.col("qv")) / (l2_norm(e) * l2_norm(F.col("qv")) + 1e-12)
    mu = lambda c: F.round(c * 1000000.0).cast("bigint")  # noqa: E731
    d2 = F.aggregate(
        F.zip_with(
            F.col("embedding").cast("array<double>"),
            F.col("qv"),
            lambda a, b: (mu(a) - mu(b)) * (mu(a) - mu(b)),
        ),
        F.lit(0).cast("bigint"),
        lambda acc, x: acc + x,
    )
    qq = base.select(
        "vec_id", F.round(cos, 6).alias("cos_sim"), d2.alias("d2")
    ).localCheckpoint(eager=True)
    wa = Window.orderBy(F.desc("cos_sim"), F.asc("vec_id"))
    wb = Window.orderBy(F.asc("d2"), F.asc("vec_id"))
    ra = (
        qq.orderBy(F.desc("cos_sim"), F.asc("vec_id"))
        .limit(20)
        .select(F.col("vec_id").alias("va"), F.row_number().over(wa).alias("r"))
    )
    rb = (
        qq.orderBy(F.asc("d2"), F.asc("vec_id"))
        .limit(20)
        .select(F.col("vec_id").alias("vb"), F.row_number().over(wb).alias("rb"))
    )
    fused = ra.join(rb, ra["va"] == rb["vb"], "full_outer").select(
        F.coalesce("va", "vb").alias("vec_id"),
        F.round(
            F.coalesce(1.0 / (_RRF_K + F.col("r")), F.lit(0.0))
            + F.coalesce(1.0 / (_RRF_K + F.col("rb")), F.lit(0.0)),
            9,
        ).alias("rrf_score"),
        F.col("r").cast("bigint").alias("rank_cos"),
        F.col("rb").cast("bigint").alias("rank_l2"),
    )
    return fused.orderBy(F.desc("rrf_score"), "vec_id").limit(10)


# ---------------------------------------------------------------------------
# Hard-negative mining for contrastive training — for each anchor
# vector, the NEAREST vector with a DIFFERENT label among its
# sign-LSH bucket mates (the negatives that actually move a
# contrastive loss; random negatives are trivially easy). The bucket
# equi-join bounds candidates exactly like the ANN tier — never
# all-pairs — and distances are exact integer-lattice L2, so the
# per-anchor argmin (min_by with vec_id tie) is engine-deterministic.
# Output: anchors with at least one cross-label bucket mate, their
# hardest negative, and the margin to their nearest SAME-label mate
# (NULL when none) — the triplet-mining report.
def _sql_hard_negatives() -> str:
    return f"""
    WITH b AS ({_sql_lsh_buckets()}),
    lab AS (
      SELECT b.vec_id, b.bucket, e.label,
             list_transform(CAST(e.embedding AS DOUBLE[]),
                            x -> CAST(round(x * 1000000.0) AS BIGINT)) AS q
      FROM b JOIN embeddings e ON e.vec_id = b.vec_id
    ),
    pairs AS (
      SELECT a.vec_id AS anchor, a.label AS a_label,
             c.vec_id AS cand, c.label AS c_label,
             list_sum(list_transform(generate_series(1, {DIM}),
               i -> (a.q[i] - c.q[i]) * (a.q[i] - c.q[i]))) AS d2
      FROM lab a JOIN lab c ON c.bucket = a.bucket AND c.vec_id <> a.vec_id
    ),
    mn AS (
      SELECT anchor, a_label, MIN(d2) AS neg_d2
      FROM pairs WHERE c_label <> a_label GROUP BY anchor, a_label
    ),
    neg AS (
      SELECT m.anchor, m.a_label, m.neg_d2,
             MIN(p.cand) AS hard_negative
      FROM mn m JOIN pairs p ON p.anchor = m.anchor
                            AND p.c_label <> p.a_label
                            AND p.d2 = m.neg_d2
      GROUP BY m.anchor, m.a_label, m.neg_d2
    ),
    pos AS (
      SELECT anchor AS p_anchor, MIN(d2) AS pos_d2
      FROM pairs WHERE c_label = a_label GROUP BY anchor
    )
    SELECT n.anchor, CAST(n.a_label AS BIGINT) AS label,
           CAST(n.hard_negative AS BIGINT) AS hard_negative,
           CAST(n.neg_d2 AS BIGINT) AS neg_d2,
           CAST(p.pos_d2 AS BIGINT) AS pos_d2,
           CAST(n.neg_d2 - p.pos_d2 AS BIGINT) AS margin_d2
    FROM neg n LEFT JOIN pos p ON p.p_anchor = n.anchor
    ORDER BY anchor
    """


@_q("hard_negative_mining", _sql_hard_negatives())
def q_hard_negative_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = t(spark, sf_dir, "embeddings")
    buckets = lsh_ann_buckets(
        emb, "embedding", "vec_id", dim=DIM, n_planes=N_PLANES
    ).select("vec_id", "bucket")
    q = F.transform(
        F.col("embedding").cast("array<double>"),
        lambda x: F.round(x * 1000000.0).cast("bigint"),
    )
    lab = (
        emb.select("vec_id", "label", q.alias("q"))
        .join(buckets, "vec_id")
        .localCheckpoint(eager=True)  # both sides of the bucket join
    )
    a = lab.select(
        F.col("vec_id").alias("anchor"),
        F.col("label").alias("a_label"),
        F.col("q").alias("qa"),
        F.col("bucket").alias("ba"),
    )
    c = lab.select(
        F.col("vec_id").alias("cand"),
        F.col("label").alias("c_label"),
        F.col("q").alias("qc"),
        F.col("bucket").alias("bc"),
    )
    d2 = F.aggregate(
        F.zip_with(F.col("qa"), F.col("qc"), lambda x, y: (x - y) * (x - y)),
        F.lit(0).cast("bigint"),
        lambda acc, x: acc + x,
    )
    pairs = (
        a.join(c, (a["ba"] == c["bc"]) & (a["anchor"] != c["cand"]))
        .select("anchor", "a_label", "cand", "c_label", d2.alias("d2"))
        .localCheckpoint(eager=True)  # feeds neg AND pos aggregations
    )
    # argmin with vec_id tie: min(struct(d2, cand))
    neg = (
        pairs.where(F.col("c_label") != F.col("a_label"))
        .groupBy("anchor", "a_label")
        .agg(F.min(F.struct("d2", "cand")).alias("m"))
        .select(
            "anchor",
            F.col("a_label").cast("bigint").alias("label"),
            F.col("m.cand").cast("bigint").alias("hard_negative"),
            F.col("m.d2").cast("bigint").alias("neg_d2"),
        )
    )
    pos = (
        pairs.where(F.col("c_label") == F.col("a_label"))
        .groupBy(F.col("anchor").alias("p_anchor"))
        .agg(F.min("d2").cast("bigint").alias("pos_d2"))
    )
    return (
        neg.join(pos, neg["anchor"] == pos["p_anchor"], "left")
        .select(
            "anchor",
            "label",
            "hard_negative",
            "neg_d2",
            "pos_d2",
            (F.col("neg_d2") - F.col("pos_d2")).cast("bigint").alias(
                "margin_d2"
            ),
        )
        .orderBy("anchor")
    )


# ---------------------------------------------------------------------------
# Matryoshka truncation audit (Kusupati et al., NeurIPS'22: MRL
# embeddings are served truncated to prefix dims) — measured recall@10
# of prefix-dimension ranking against the full-dimension exact top-10,
# per prefix length. The production question it answers: how many
# leading dims must the serving tier keep? Same landmark pattern as
# ann_recall_report (the brute-force arms are bounded by the SAMPLED
# query set); hit counts are integers, so the only float is the final
# recall division; rankings tie-break (round-6 cosine, vec_id) in
# both engines. The full-dim exact arm is computed ONCE and shared by
# all prefix arms.
_MAT_PREFIXES = (8, 16, 32)


def _sql_matryoshka() -> str:
    def arm(k: int) -> str:
        a = f"list_slice(CAST(e.embedding AS DOUBLE[]), 1, {k})"
        b = f"list_slice(CAST(q.qv AS DOUBLE[]), 1, {k})"
        return f"""pref{k} AS (
      SELECT qid, vec_id FROM (
        SELECT q.qid, e.vec_id,
               row_number() OVER (
                 PARTITION BY q.qid
                 ORDER BY round({_sql_cosine(a, b)}, 6) DESC, e.vec_id
               ) AS rn
        FROM embeddings e CROSS JOIN q
        WHERE e.vec_id <> q.qid
      ) WHERE rn <= 10
    ),
    hits{k} AS (
      SELECT {k} AS prefix_dim, COUNT(*) AS h
      FROM exact JOIN pref{k}
        ON pref{k}.qid = exact.qid AND pref{k}.vec_id = exact.vec_id
    )"""

    cos_eq = _sql_cosine("e.embedding", "q.qv")
    arms = ",\n    ".join(arm(k) for k in _MAT_PREFIXES)
    rows = "\n    UNION ALL ".join(
        f"SELECT prefix_dim, h FROM hits{k}" for k in _MAT_PREFIXES
    )
    return f"""
    WITH q AS MATERIALIZED (
      SELECT vec_id AS qid, embedding AS qv FROM embeddings
      WHERE vec_id % {_RECALL_QMOD} = 0
    ),
    nq AS (SELECT COUNT(*) AS n FROM q),
    exact AS MATERIALIZED (
      SELECT qid, vec_id FROM (
        SELECT q.qid, e.vec_id,
               row_number() OVER (
                 PARTITION BY q.qid
                 ORDER BY round({cos_eq}, 6) DESC, e.vec_id
               ) AS rn
        FROM embeddings e CROSS JOIN q
        WHERE e.vec_id <> q.qid
      ) WHERE rn <= 10
    ),
    {arms}
    SELECT CAST(prefix_dim AS INT) AS prefix_dim,
           CAST((SELECT n FROM nq) AS BIGINT) AS n_queries,
           CAST(h AS BIGINT) AS total_hits,
           round(CAST(h AS DOUBLE) / (10 * (SELECT n FROM nq)), 6)
             AS recall_at_10
    FROM ({rows}) ORDER BY prefix_dim
    """


@_q("matryoshka_truncation_audit", _sql_matryoshka())
def q_matryoshka_truncation_audit(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from pyspark.sql import Window

    emb = t(spark, sf_dir, "embeddings")
    base = emb.select(
        "vec_id", as_double_array(F.col("embedding")).alias("e")
    ).localCheckpoint(eager=False)  # shared by all four ranking arms
    q = base.where(F.col("vec_id") % _RECALL_QMOD == 0).select(
        F.col("vec_id").alias("qid"), F.col("e").alias("qv")
    )
    pairs = (
        base.crossJoin(F.broadcast(q))
        .where(F.col("vec_id") != F.col("qid"))
        .localCheckpoint(eager=False)
    )
    w = Window.partitionBy("qid").orderBy(F.desc("sim"), F.asc("vec_id"))

    def top10(sim_col) -> DataFrame:
        return (
            pairs.select("qid", "vec_id", sim_col.alias("sim"))
            .withColumn("rn", F.row_number().over(w))
            .where(F.col("rn") <= 10)
            .select("qid", "vec_id")
        )

    exact = top10(
        F.round(cosine_similarity(F.col("e"), F.col("qv")), 6)
    ).localCheckpoint(eager=False)
    nq = q.count()  # one scalar (sampled query-set size)
    snaps = []
    for k in _MAT_PREFIXES:
        pref = top10(
            F.round(
                cosine_similarity(
                    F.slice(F.col("e"), 1, k), F.slice(F.col("qv"), 1, k)
                ),
                6,
            )
        )
        snaps.append(
            exact.join(pref, ["qid", "vec_id"]).agg(
                F.lit(k).cast("int").alias("prefix_dim"),
                F.lit(nq).cast("bigint").alias("n_queries"),
                F.count(F.lit(1)).cast("bigint").alias("total_hits"),
                F.round(
                    F.count(F.lit(1)).cast("double") / (10 * nq), 6
                ).alias("recall_at_10"),
            )
        )
    from functools import reduce

    return reduce(lambda x, y: x.unionByName(y), snaps).orderBy("prefix_dim")


# ---------------------------------------------------------------------------
# Distributed PCA direction via POWER ITERATION — the dominant
# eigenvector of the embedding covariance (von Mises 1929; the
# textbook spectral method behind PCA/HITS/PageRank). One corpus pass
# reduces to the exact d×d second-moment table (the
# embedding_covariance_pairs envelope: row-local i<=j products on the
# 1e-6 integer lattice, DECIMAL(38,0) partials — right for d up to a
# few hundred); the 8 matrix-vector rounds then run on that d²-row
# table only — per round ONE join + one aggregation over 4096 cells,
# with the pagerank round(12) seam on each component sum and an
# inf-norm normalizer (max-abs is a SELECTION, exact in any engine).
# The data rows are touched exactly once; the driver sees nothing.
# Output: inf-norm eigenvalue estimate + top-10 |loading| dims.
_POW_ITERS = 8


def _sql_power_iteration() -> str:
    ctes = [
        f"""q AS MATERIALIZED (
      SELECT list_transform(CAST(embedding AS DOUBLE[]),
                            x -> CAST(round(x * 1000000) AS BIGINT)) AS qv
      FROM embeddings
    ),
    cells AS MATERIALIZED (
      SELECT i AS di, j AS dj, SUM(CAST(qv[i] * qv[j] AS DECIMAL(38,0))) AS sp
      FROM q,
           LATERAL unnest(generate_series(1, len(qv))) AS s(i),
           LATERAL unnest(generate_series(i, len(qv))) AS t2(j)
      GROUP BY i, j
    ),
    dims AS MATERIALIZED (
      SELECT i AS dim, SUM(qv[i]) AS s1
      FROM q, LATERAL unnest(generate_series(1, len(qv))) AS s(i)
      GROUP BY i
    ),
    nrow AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM q),
    cov0 AS (
      SELECT di, dj,
             round((CAST(sp AS DOUBLE)
                    - CAST(a.s1 AS DOUBLE) * CAST(b.s1 AS DOUBLE)
                      / (SELECT n FROM nrow))
                   / ((SELECT n FROM nrow) - 1) / 1000000000000.0, 12) AS c
      FROM cells JOIN dims a ON a.dim = di JOIN dims b ON b.dim = dj
    ),
    cov AS MATERIALIZED (
      SELECT di, dj, c FROM cov0
      UNION ALL
      SELECT dj, di, c FROM cov0 WHERE di <> dj
    ),
    v0 AS MATERIALIZED (
      SELECT dim, 0.125 AS v FROM dims
    )"""
    ]
    for k in range(1, _POW_ITERS + 1):
        ctes.append(
            f"""w{k} AS MATERIALIZED (
      SELECT cov.di AS dim, round(SUM(cov.c * v.v), 12) AS w
      FROM cov JOIN v{k - 1} v ON v.dim = cov.dj GROUP BY cov.di
    ),
    m{k} AS (SELECT MAX(abs(w)) AS m FROM w{k}),
    v{k} AS MATERIALIZED (
      SELECT dim, round(w / (SELECT m FROM m{k}), 12) AS v FROM w{k}
    )"""
        )
    k = _POW_ITERS
    return (
        "WITH "
        + ",\n    ".join(ctes)
        + f"""
    SELECT CAST(dim AS BIGINT) AS dim, round(v, 6) AS loading,
           round((SELECT m FROM m{k}), 6) AS eigval_est
    FROM v{k}
    ORDER BY abs(round(v, 6)) DESC, dim LIMIT 10"""
    )


@_q("spectral_power_iteration", _sql_power_iteration())
def q_spectral_power_iteration(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = t(spark, sf_dir, "embeddings")
    q = emb.select(
        F.expr(
            "transform(embedding,"
            " x -> cast(round(cast(x as double) * 1000000) as bigint))"
        ).alias("qv")
    ).localCheckpoint(eager=False)  # moment cells + dim sums + n share it
    cells = (
        q.select(
            F.explode(
                F.expr(
                    "flatten(transform(sequence(1, size(qv)),"
                    " i -> transform(sequence(i, size(qv)),"
                    " j -> struct(i as di, j as dj,"
                    " qv[i-1] * qv[j-1] as p))))"
                )
            ).alias("e")
        )
        .select("e.di", "e.dj", "e.p")
        .groupBy("di", "dj")
        .agg(F.sum(F.col("p").cast("decimal(38,0)")).alias("sp"))
    )
    dims = q.select(
        F.posexplode(F.col("qv")).alias("pos", "x")
    ).groupBy((F.col("pos") + 1).alias("dim")).agg(F.sum("x").alias("s1"))
    nrow = q.agg(F.count(F.lit(1)).cast("double").alias("n"))
    a = dims.select(F.col("dim").alias("di"), F.col("s1").alias("s1a"))
    b = dims.select(F.col("dim").alias("dj"), F.col("s1").alias("s1b"))
    cov0 = (
        cells.join(F.broadcast(a), "di")
        .join(F.broadcast(b), "dj")
        .join(F.broadcast(nrow))
        .select(
            "di",
            "dj",
            F.round(
                (
                    F.col("sp").cast("double")
                    - F.col("s1a").cast("double")
                    * F.col("s1b").cast("double")
                    / F.col("n")
                )
                / (F.col("n") - 1)
                / 1000000000000.0,
                12,
            ).alias("c"),
        )
    )
    cov = (
        cov0.unionByName(
            cov0.where(F.col("di") != F.col("dj")).select(
                F.col("dj").alias("di"), F.col("di").alias("dj"), "c"
            )
        )
        .localCheckpoint(eager=True)  # read every iteration
    )
    v = dims.select("dim", F.lit(0.125).alias("v")).localCheckpoint(eager=True)
    m = None
    for _ in range(_POW_ITERS):
        w = (
            cov.join(v.select(F.col("dim").alias("dj"), "v"), "dj")
            .groupBy(F.col("di").alias("dim"))
            .agg(F.round(F.sum(F.col("c") * F.col("v")), 12).alias("w"))
        )
        m = w.agg(F.max(F.abs(F.col("w"))).alias("m"))
        v = (
            w.join(F.broadcast(m))
            .select("dim", F.round(F.col("w") / F.col("m"), 12).alias("v"))
            .localCheckpoint(eager=True)
        )
    return (
        v.join(F.broadcast(m))
        .select(
            F.col("dim").cast("bigint").alias("dim"),
            F.round("v", 6).alias("loading"),
            F.round("m", 6).alias("eigval_est"),
        )
        .orderBy(F.abs(F.col("loading")).desc(), "dim")
        .limit(10)
    )


# ---------------------------------------------------------------------------
# Embedding-space benchmark decontamination — the semantic complement
# of benchmark_decontamination's token 13-grams (the dual published in
# the GPT-3/Llama data cards): a corpus document is contaminated if
# its embedding is too close (cosine, rounded before compare — the
# engine seam) to ANY benchmark vector. The benchmark set here is the
# first 50 vec_ids; at 100 TB the benchmark side is always the tiny
# one, so it broadcasts and the corpus never shuffles — contamination
# screening costs exactly one corpus scan. Per-row norms are hoisted
# out of the pair expression (computed once per vector, not per pair,
# bit-identically — the embedding_dup_clusters discipline).
@_q(
    "embedding_decontamination",
    f"""
    WITH bench AS (SELECT vec_id, embedding FROM embeddings
                   WHERE vec_id < 50),
    corp AS (SELECT vec_id, label, embedding FROM embeddings
             WHERE vec_id >= 50),
    sims AS (
      SELECT c.vec_id, c.label,
             MAX(round({_sql_cosine('c.embedding', 'b.embedding')}, 6))
               AS max_sim
      FROM corp c CROSS JOIN bench b
      GROUP BY c.vec_id, c.label
    )
    SELECT label,
           CAST(COUNT(*) AS BIGINT) AS n_corpus,
           CAST(SUM(CASE WHEN max_sim > 0.3 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_contaminated,
           round(MAX(max_sim), 6) AS max_label_sim
    FROM sims GROUP BY label ORDER BY label
    """,
)
def q_embedding_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.vectors import dot, l2_norm

    emb = t(spark, sf_dir, "embeddings").select(
        "vec_id",
        "label",
        as_double_array(F.col("embedding")).alias("e"),
    ).withColumn("nm", l2_norm(F.col("e")))
    bench = emb.where(F.col("vec_id") < 50).select(
        F.col("e").alias("eb"), F.col("nm").alias("nb")
    )
    corp = emb.where(F.col("vec_id") >= 50).select(
        "vec_id", "label", F.col("e").alias("ec"), F.col("nm").alias("nc")
    )
    sim = F.round(
        dot(F.col("ec"), F.col("eb"))
        / (F.col("nc") * F.col("nb") + F.lit(1e-12)),
        6,
    )
    sims = (
        corp.crossJoin(F.broadcast(bench))
        .groupBy("vec_id", "label")
        .agg(F.max(sim).alias("max_sim"))
    )
    return (
        sims.groupBy("label")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_corpus"),
            F.sum(F.when(F.col("max_sim") > 0.3, 1).otherwise(0))
            .cast("bigint")
            .alias("n_contaminated"),
            F.round(F.max("max_sim"), 6).alias("max_label_sim"),
        )
        .orderBy("label")
    )


# ---------------------------------------------------------------------------
# Scalar (int8) quantization audit — the embedding-compression tier's
# missing rung between the float corpus and PQ: per-dimension min/max
# over the corpus give 0..255 codes ((x-mn)*255 DIV max(range,1) —
# pure integers on the micro-lattice), and the report is (a) recall@10
# of int8 dot-product ranking vs exact ranking for the 10 standard
# query vectors and (b) the exact mean absolute reconstruction error
# (|255*x - 255*mn - code*range| summed as BIGINTs, one final
# division). Everything is exact integer arithmetic until the two
# report divisions, so the oracle is bit-equal by construction.
# Scale shape: the min/max pass is one explode+groupBy (64 rows
# broadcast back); both ranking arms are query-broadcast corpus scans
# with per-query top-10 heaps — no corpus x corpus anything.
def _sql_scalar_quant() -> str:
    return f"""
    WITH mv AS (
      SELECT vec_id,
             list_transform(embedding,
               x -> CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS v
      FROM embeddings
    ),
    dims AS (
      SELECT d.i AS dim, MIN(v[d.i]) AS mn, MAX(v[d.i]) AS mx
      FROM mv, LATERAL unnest(generate_series(1, {DIM})) AS d(i)
      GROUP BY d.i
    ),
    rng AS (
      SELECT list(mn ORDER BY dim) AS mns,
             list(GREATEST(mx - mn, 1) ORDER BY dim) AS rgs,
             list(mx - mn ORDER BY dim) AS rws
      FROM dims
    ),
    coded AS (
      SELECT mv.vec_id, mv.v,
             list_transform(generate_series(1, {DIM}),
               i -> ((mv.v[i] - r.mns[i]) * 255) // r.rgs[i]) AS c,
             list_sum(list_transform(generate_series(1, {DIM}),
               i -> abs(255 * mv.v[i] - 255 * r.mns[i]
                        - ((mv.v[i] - r.mns[i]) * 255) // r.rgs[i]
                          * r.rws[i]))) AS err
      FROM mv CROSS JOIN rng r
    ),
    q AS (SELECT vec_id AS qid, v AS qv, c AS qc FROM coded
          WHERE vec_id % {_RECALL_QMOD} = 0),
    exact AS (
      SELECT qid, vec_id FROM (
        SELECT q.qid, e.vec_id,
               row_number() OVER (PARTITION BY q.qid ORDER BY
                 list_dot_product(CAST(e.v AS DOUBLE[]),
                                  CAST(q.qv AS DOUBLE[])) DESC,
                 e.vec_id) AS rn
        FROM coded e CROSS JOIN q WHERE e.vec_id <> q.qid
      ) WHERE rn <= 10
    ),
    quant AS (
      SELECT qid, vec_id FROM (
        SELECT q.qid, e.vec_id,
               row_number() OVER (PARTITION BY q.qid ORDER BY
                 list_dot_product(CAST(e.c AS DOUBLE[]),
                                  CAST(q.qc AS DOUBLE[])) DESC,
                 e.vec_id) AS rn
        FROM coded e CROSS JOIN q WHERE e.vec_id <> q.qid
      ) WHERE rn <= 10
    ),
    hits AS (
      SELECT COUNT(*) AS h
      FROM exact JOIN quant
        ON quant.qid = exact.qid AND quant.vec_id = exact.vec_id
    ),
    tot AS (
      SELECT COUNT(*) AS n_vecs, SUM(err) AS err_sum FROM coded
    )
    SELECT CAST((SELECT COUNT(*) FROM q) AS BIGINT) AS n_queries,
           CAST(hits.h AS BIGINT) AS total_hits,
           round(CAST(hits.h AS DOUBLE)
                 / (10 * (SELECT COUNT(*) FROM q)), 6) AS recall_at_10,
           round(CAST(tot.err_sum AS DOUBLE)
                 / (255.0 * 1000000 * tot.n_vecs * {DIM}), 9)
             AS mean_abs_recon_err
    FROM hits, tot
    """


@_q("scalar_quantization_recall", _sql_scalar_quant())
def q_scalar_quantization_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from ..ml.clustering import quantize_micros

    emb = t(spark, sf_dir, "embeddings")
    mv = emb.select(
        "vec_id", quantize_micros(F.col("embedding")).alias("v")
    )
    dims = (
        mv.select(F.posexplode("v").alias("d0", "x"))
        .groupBy((F.col("d0") + 1).alias("dim"))
        .agg(F.min("x").alias("mn"), F.max("x").alias("mx"))
    )
    rng = dims.agg(
        F.expr(
            "transform(array_sort(collect_list(struct(dim, mn))), s -> s.mn)"
        ).alias("mns"),
        F.expr(
            "transform(array_sort(collect_list(struct(dim, "
            "greatest(mx - mn, 1L) AS rg))), s -> s.rg)"
        ).alias("rgs"),
        F.expr(
            "transform(array_sort(collect_list(struct(dim, "
            "mx - mn AS rw))), s -> s.rw)"
        ).alias("rws"),
    )
    coded = mv.crossJoin(F.broadcast(rng)).select(
        "vec_id",
        "v",
        F.expr(
            f"transform(sequence(1, {DIM}), i -> "
            "((element_at(v, i) - element_at(mns, i)) * 255) "
            "DIV element_at(rgs, i))"
        ).alias("c"),
        F.expr(
            f"aggregate(transform(sequence(1, {DIM}), i -> "
            "abs(255 * element_at(v, i) - 255 * element_at(mns, i) "
            "- ((element_at(v, i) - element_at(mns, i)) * 255) "
            "DIV element_at(rgs, i) * element_at(rws, i))), "
            "0L, (a, x) -> a + x)"
        ).alias("err"),
    ).localCheckpoint(eager=False)  # both ranking arms + totals read it
    q = coded.where(F.col("vec_id") % _RECALL_QMOD == 0).select(
        F.col("vec_id").alias("qid"),
        F.col("v").alias("qv"),
        F.col("c").alias("qc"),
    )
    idot = "aggregate(zip_with({a}, {b}, (x, y) -> x * y), 0L, (a, x) -> a + x)"
    w = Window.partitionBy("qid").orderBy(F.desc("s"), F.asc("vec_id"))
    exact = (
        coded.crossJoin(F.broadcast(q))
        .where(F.col("vec_id") != F.col("qid"))
        .select(
            "qid", "vec_id", F.expr(idot.format(a="v", b="qv")).alias("s")
        )
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 10)
        .select("qid", "vec_id")
    )
    quant = (
        coded.crossJoin(F.broadcast(q))
        .where(F.col("vec_id") != F.col("qid"))
        .select(
            "qid", "vec_id", F.expr(idot.format(a="c", b="qc")).alias("s")
        )
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 10)
        .select("qid", "vec_id")
    )
    hits = exact.join(quant, ["qid", "vec_id"]).agg(
        F.count(F.lit(1)).alias("h")
    )
    tot = coded.agg(
        F.count(F.lit(1)).alias("n_vecs"), F.sum("err").alias("err_sum")
    )
    nq = q.agg(F.count(F.lit(1)).alias("nq"))
    return (
        hits.crossJoin(F.broadcast(tot))
        .crossJoin(F.broadcast(nq))
        .select(
            F.col("nq").cast("bigint").alias("n_queries"),
            F.col("h").cast("bigint").alias("total_hits"),
            F.round(
                F.col("h").cast("double") / (10 * F.col("nq")), 6
            ).alias("recall_at_10"),
            F.round(
                F.col("err_sum").cast("double")
                / (255.0 * 1000000 * F.col("n_vecs") * DIM),
                9,
            ).alias("mean_abs_recon_err"),
        )
    )


# ---------------------------------------------------------------------------
# MMR diversified top-k (Carbonell & Goldstein SIGIR 1998): greedy
# re-rank of the query's top-32 candidates maximizing
# lambda*rel - (1-lambda)*max_sim_to_selected with lambda = 1/2, so
# DOUBLED scores are mmr_x2 = rel - maxsim — pure BIGINTs on the
# micros^2 lattice (rel and sims are exact integer dots). The Spark
# side is the production shape: retrieval (top-32 heap over the
# corpus) and the 32x32 similarity matrix are DISTRIBUTED; the 8-step
# greedy is inherently sequential over a 32-row frame, so it runs
# driver-side on collected exact integers (same bounded-collect
# discipline as the k x dim k-means centroids). The oracle unrolls
# the identical greedy as 8 chained CTEs.
_MMR_CANDS = 32
_MMR_K = 8


def _sql_mmr() -> str:
    idot = (
        "CAST(list_dot_product(CAST({a} AS DOUBLE[]), "
        "CAST({b} AS DOUBLE[])) AS BIGINT)"
    )
    ctes = [
        f"""mv AS MATERIALIZED (
      SELECT vec_id,
             list_transform(embedding,
               x -> CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS v
      FROM embeddings
    ),
    q AS (SELECT v AS qv FROM mv WHERE vec_id = 0),
    cand AS MATERIALIZED (
      SELECT mv.vec_id, mv.v, {idot.format(a='mv.v', b='q.qv')} AS rel
      FROM mv CROSS JOIN q WHERE mv.vec_id <> 0
      ORDER BY rel DESC, mv.vec_id LIMIT {_MMR_CANDS}
    ),
    sims AS MATERIALIZED (
      SELECT a.vec_id AS ia, b.vec_id AS ib,
             {idot.format(a='a.v', b='b.v')} AS s
      FROM cand a JOIN cand b ON a.vec_id <> b.vec_id
    ),
    p1 AS MATERIALIZED (
      SELECT CAST(1 AS BIGINT) AS rank, vec_id, rel,
             CAST(NULL AS BIGINT) AS mmr_x2
      FROM cand ORDER BY rel DESC, vec_id LIMIT 1
    ),
    sel1 AS MATERIALIZED (SELECT vec_id FROM p1)"""
    ]
    for step in range(2, _MMR_K + 1):
        ctes.append(
            f"""p{step} AS MATERIALIZED (
      SELECT CAST({step} AS BIGINT) AS rank, vec_id, rel, mmr_x2 FROM (
        SELECT c.vec_id, c.rel,
               c.rel - (SELECT MAX(s.s) FROM sims s
                        WHERE s.ia = c.vec_id
                          AND s.ib IN (SELECT vec_id FROM sel{step - 1}))
                 AS mmr_x2
        FROM cand c
        WHERE c.vec_id NOT IN (SELECT vec_id FROM sel{step - 1})
      ) ORDER BY mmr_x2 DESC, vec_id LIMIT 1
    ),
    sel{step} AS MATERIALIZED (SELECT vec_id FROM sel{step - 1}
                  UNION ALL SELECT vec_id FROM p{step})"""
        )
    picks = "\n    UNION ALL ".join(
        f"SELECT * FROM p{i}" for i in range(1, _MMR_K + 1)
    )
    return (
        "WITH "
        + ",\n    ".join(ctes)
        + f"""
    SELECT rank, vec_id, rel AS relevance, mmr_x2 FROM ({picks})
    ORDER BY rank"""
    )


@_q("mmr_diversified_topk", _sql_mmr())
def q_mmr_diversified_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..ml.clustering import quantize_micros

    emb = t(spark, sf_dir, "embeddings")
    mv = emb.select("vec_id", quantize_micros(F.col("embedding")).alias("v"))
    qv = mv.where(F.col("vec_id") == 0).select(F.col("v").alias("qv"))
    idot = "aggregate(zip_with({a}, {b}, (x, y) -> x * y), 0L, (a, x) -> a + x)"
    cand = (
        mv.where(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(qv))
        .select("vec_id", "v", F.expr(idot.format(a="v", b="qv")).alias("rel"))
        .orderBy(F.desc("rel"), F.asc("vec_id"))
        .limit(_MMR_CANDS)
        .localCheckpoint(eager=True)  # rel collect + sim matrix share it
    )
    a = cand.select(F.col("vec_id").alias("ia"), F.col("v").alias("va"))
    b = cand.select(F.col("vec_id").alias("ib"), F.col("v").alias("vb"))
    sims = (
        a.crossJoin(F.broadcast(b))
        .where(F.col("ia") != F.col("ib"))
        .select("ia", "ib", F.expr(idot.format(a="va", b="vb")).alias("s"))
    )
    # bounded: _MMR_CANDS rows / _MMR_CANDS^2 sim pairs (ceiling-pinned
    # by tests/test_bounded_collects.py)
    rel = {r["vec_id"]: r["rel"] for r in cand.select("vec_id", "rel").collect()}
    sim = {(r["ia"], r["ib"]): r["s"] for r in sims.collect()}  # bounded: see above
    first = sorted(rel.items(), key=lambda kv: (-kv[1], kv[0]))[0][0]
    picks = [(1, first, rel[first], None)]
    selected = [first]
    for step in range(2, _MMR_K + 1):
        best = None
        for c in rel:
            if c in selected:
                continue
            mmr2 = rel[c] - max(sim[(c, s)] for s in selected)
            key = (-mmr2, c)
            if best is None or key < best[0]:
                best = (key, c, mmr2)
        picks.append((step, best[1], rel[best[1]], best[2]))
        selected.append(best[1])
    return spark.createDataFrame(
        picks, "rank bigint, vec_id bigint, relevance bigint, mmr_x2 bigint"
    )


# ---------------------------------------------------------------------------
# Rocchio pseudo-relevance feedback (Rocchio 1971, SMART): expand the
# query with the centroid of its own top-k results, q' = alpha*q +
# beta*mean(top-k), then re-rank. With alpha=1, beta=3/4 the expanded
# query scales to EXACT integers: q'' = 4k*q + 3*sum(top-k vectors)
# (positive scaling never changes a dot-product ranking), so both
# retrieval passes stay on the micros lattice and the report —
# new top-10 + overlap with the original top-10 — is hash-exact.
# Scale shape: two query-broadcast corpus scans with top-k heaps; the
# feedback centroid is a k x dim aggregate.
_ROCCHIO_K = 10


def _sql_rocchio() -> str:
    idot = (
        "CAST(list_dot_product(CAST({a} AS DOUBLE[]), "
        "CAST({b} AS DOUBLE[])) AS BIGINT)"
    )
    return f"""
    WITH mv AS MATERIALIZED (
      SELECT vec_id,
             list_transform(embedding,
               x -> CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS v
      FROM embeddings
    ),
    q AS (SELECT v AS qv FROM mv WHERE vec_id = 0),
    r1 AS MATERIALIZED (
      SELECT mv.vec_id, mv.v,
             row_number() OVER (ORDER BY {idot.format(a='mv.v', b='q.qv')}
                                DESC, mv.vec_id) AS rn
      FROM mv CROSS JOIN q WHERE mv.vec_id <> 0
    ),
    fb AS (
      SELECT list_transform(generate_series(1, {DIM}),
               i -> list_sum(list_transform(list(v), x -> x[i]))) AS s
      FROM r1 WHERE rn <= {_ROCCHIO_K}
    ),
    q2 AS (
      SELECT list_transform(generate_series(1, {DIM}),
               i -> 4 * {_ROCCHIO_K} * q.qv[i] + 3 * fb.s[i]) AS qv2
      FROM q, fb
    ),
    r2 AS (
      SELECT mv.vec_id,
             row_number() OVER (ORDER BY {idot.format(a='mv.v', b='q2.qv2')}
                                DESC, mv.vec_id) AS rn
      FROM mv CROSS JOIN q2 WHERE mv.vec_id <> 0
    )
    SELECT r2.vec_id,
           CAST(r2.rn AS BIGINT) AS new_rank,
           CAST(COALESCE(r1k.rn, 0) AS BIGINT) AS old_rank
    FROM r2 LEFT JOIN (SELECT vec_id, rn FROM r1 WHERE rn <= 10) r1k
      ON r1k.vec_id = r2.vec_id
    WHERE r2.rn <= 10
    ORDER BY new_rank
    """


@_q("rocchio_feedback_rerank", _sql_rocchio())
def q_rocchio_feedback_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from ..ml.clustering import quantize_micros

    emb = t(spark, sf_dir, "embeddings")
    mv = emb.select(
        "vec_id", quantize_micros(F.col("embedding")).alias("v")
    ).localCheckpoint(eager=False)  # both retrieval passes share it
    q = mv.where(F.col("vec_id") == 0).select(F.col("v").alias("qv"))
    idot = "aggregate(zip_with({a}, {b}, (x, y) -> x * y), 0L, (a, x) -> a + x)"
    # top-k via orderBy+limit (TakeOrderedAndProject: per-partition
    # heaps, no global sort) — a corpus-wide row_number window would
    # single-partition-sort the whole corpus at scale. The rank column
    # is assigned AFTER the limit, over the bounded k-row frame.
    w = Window.orderBy(F.desc("s"), F.asc("vec_id"))
    scored1 = (
        mv.where(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(q))
        .select("vec_id", "v", F.expr(idot.format(a="v", b="qv")).alias("s"))
    )
    topk = (
        scored1.orderBy(F.desc("s"), F.asc("vec_id"))
        .limit(_ROCCHIO_K)
        .withColumn("rn", F.row_number().over(w))
        .localCheckpoint(eager=True)
    )
    fb = topk.select(F.posexplode("v").alias("i0", "x")).groupBy(
        (F.col("i0") + 1).alias("dim")
    ).agg(F.sum("x").alias("sx"))
    fbarr = fb.agg(
        F.expr(
            "transform(array_sort(collect_list(struct(dim, sx))), s -> s.sx)"
        ).alias("s")
    )
    q2 = q.crossJoin(F.broadcast(fbarr)).select(
        F.expr(
            f"transform(sequence(1, {DIM}), i -> "
            f"4 * {_ROCCHIO_K} * element_at(qv, i) + 3 * element_at(s, i))"
        ).alias("qv2")
    )
    r2 = (
        mv.where(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(q2))
        .select("vec_id", F.expr(idot.format(a="v", b="qv2")).alias("s"))
        .orderBy(F.desc("s"), F.asc("vec_id"))
        .limit(10)
        .withColumn("rn", F.row_number().over(w))
    )
    old = topk.select(F.col("vec_id").alias("ov"), F.col("rn").alias("orn"))
    return (
        r2.join(F.broadcast(old), r2["vec_id"] == F.col("ov"), "left")
        .select(
            "vec_id",
            F.col("rn").cast("bigint").alias("new_rank"),
            F.coalesce(F.col("orn"), F.lit(0)).cast("bigint").alias("old_rank"),
        )
        .orderBy("new_rank")
    )
