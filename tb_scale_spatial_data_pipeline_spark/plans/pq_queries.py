"""Product-Quantization queries (IVF-PQ tier, PLANS.md self-identified
gap): code assignment and asymmetric-distance search over `embeddings`,
both hash-checked against DuckDB twins that regenerate the same
deterministic codebooks (sub-vectors of the first K rows — the same
SQL-regenerable convention as `ivf_assign`'s first-8 centroids).
Codebook TRAINING (joint-sub-space Lloyd on the exact micro-lattice)
is hash-checked by `pq_train_assign` against an unrolled-CTE twin,
plus invariant tests in tests/test_pq.py.

Cross-engine float discipline: every squared-distance is an explicit
left-associated sum of (a-b)^2 terms in BOTH engines (same IEEE op
sequence), rounded before any ordering decision.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ._util import t, registry

QUERIES, ORACLES, _q = registry()

DIM = 64
M = 8          # sub-spaces
SUB = DIM // M
K = 4          # codewords per sub-space

def _sql_sub_dist2(m: int, a: str, b: str) -> str:
    """Left-associated Σ (a[i]-b[i])² over sub-space m — op-for-op the
    Spark fold in ml/pq._sub_dist2."""
    terms = " + ".join(
        f"(CAST({a}[{m * SUB + i + 1}] AS DOUBLE) - CAST({b}[{m * SUB + i + 1}] AS DOUBLE))"
        f" * (CAST({a}[{m * SUB + i + 1}] AS DOUBLE) - CAST({b}[{m * SUB + i + 1}] AS DOUBLE))"
        for i in range(SUB)
    )
    return f"(0.0 + {terms})"


def _sql_cb_codes_ctes(k: int = K) -> str:
    """Shared CTE block: codebook (first k rows), per-(vector,
    codeword) sub-distances, and the per-vector code assignment."""
    d_cols = ", ".join(
        f"round({_sql_sub_dist2(m, 'e.embedding', 'c.cv')}, 9) AS d{m}" for m in range(M)
    )
    code_cols = ", ".join(
        f"CAST(first(cid ORDER BY d{m}, cid) AS INT) AS code{m}" for m in range(M)
    )
    return f"""
    cb AS (SELECT vec_id AS cid, embedding AS cv FROM embeddings WHERE vec_id < {k}),
    d AS MATERIALIZED (
      SELECT e.vec_id, c.cid, {d_cols}
      FROM embeddings e CROSS JOIN cb c
    ),
    codes AS (SELECT vec_id, {code_cols} FROM d GROUP BY vec_id)
    """


def _sql_pq_assign() -> str:
    return f"""
    WITH {_sql_cb_codes_ctes()}
    SELECT * FROM codes
    """


@_q("pq_assign", _sql_pq_assign())
def q_pq_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..ml.pq import pq_assign_codes, pq_codebooks_from_first_k

    emb = t(spark, sf_dir, "embeddings")
    books = pq_codebooks_from_first_k(emb, "vec_id", "embedding", DIM, M, K)
    return pq_assign_codes(emb.select("vec_id", "embedding"), "embedding", books).drop(
        "embedding"
    )


def _sql_pq_search() -> str:
    ld_cols = ", ".join(
        f"{_sql_sub_dist2(m, 'q.qv', 'c.cv')} AS d{m}" for m in range(M)
    )
    joins = " ".join(f"JOIN ld l{m} ON l{m}.cid = a.code{m}" for m in range(M))
    adc = " + ".join(f"l{m}.d{m}" for m in range(M))
    return f"""
    WITH {_sql_cb_codes_ctes()},
    q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
    ld AS MATERIALIZED (SELECT c.cid, {ld_cols} FROM cb c CROSS JOIN q)
    SELECT a.vec_id, round(sqrt(0.0 + {adc}), 6) AS adc
    FROM codes a {joins}
    ORDER BY adc, a.vec_id LIMIT 10
    """


@_q("pq_search", _sql_pq_search())
def q_pq_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..ml.pq import pq_adc_search, pq_codebooks_from_first_k

    emb = t(spark, sf_dir, "embeddings")
    books = pq_codebooks_from_first_k(emb, "vec_id", "embedding", DIM, M, K)
    qv = [
        float(v)
        for v in emb.where(F.col("vec_id") == 0).select("embedding").collect()[0][0]
    ]
    return pq_adc_search(
        emb.select("vec_id", "embedding"), "vec_id", "embedding", books, qv, top=10
    )


_PQ_TRAIN_ITERS = 1


def _sql_pq_train() -> str:
    """Unrolled-CTE twin of the lattice joint-sub-space Lloyd loop
    (ml/pq.train_pq_codebooks): quantize → per-(vector, sub-space)
    assign (exact BIGINT d², (d², cid) ties) → rounded-mean update
    (round-half-away in exact integer arithmetic) per iteration, then
    pivot the final codes to code0..code{M-1} columns."""
    ctes = [
        f"""q AS MATERIALIZED (
      SELECT vec_id, (i - 1) // {SUB} AS m, (i - 1) % {SUB} AS dim,
             CAST(round(CAST(embedding[i] AS DOUBLE) * 1000000) AS BIGINT)
               AS xi
      FROM embeddings,
           LATERAL unnest(generate_series(1, len(embedding))) AS s(i)
    )""",
        f"""cb0 AS MATERIALIZED (
      SELECT q.m, CAST(r.rn - 1 AS BIGINT) AS cid, q.dim, q.xi AS c
      FROM (SELECT vec_id, row_number() OVER (ORDER BY vec_id) AS rn
            FROM embeddings ORDER BY vec_id LIMIT {K}) r
      JOIN q ON q.vec_id = r.vec_id
    )""",
    ]
    for r in range(_PQ_TRAIN_ITERS):
        ctes.append(
            f"""d{r} AS (
      SELECT q.vec_id, q.m, c.cid,
             SUM((q.xi - c.c) * (q.xi - c.c)) AS d2
      FROM q JOIN cb{r} c ON c.m = q.m AND c.dim = q.dim
      GROUP BY q.vec_id, q.m, c.cid
    ),
    a{r} AS MATERIALIZED (
      SELECT vec_id, m, cid FROM (
        SELECT vec_id, m, cid,
               row_number() OVER (PARTITION BY vec_id, m
                                  ORDER BY d2, cid) AS rnk
        FROM d{r}) WHERE rnk = 1
    ),
    cb{r + 1} AS MATERIALIZED (
      SELECT a.m, a.cid, q.dim,
             CAST(CASE WHEN SUM(q.xi) >= 0
                  THEN (2 * SUM(q.xi) + COUNT(*)) // (2 * COUNT(*))
                  ELSE -((2 * -SUM(q.xi) + COUNT(*)) // (2 * COUNT(*)))
                  END AS BIGINT) AS c
      FROM a{r} a JOIN q ON q.vec_id = a.vec_id AND q.m = a.m
      GROUP BY a.m, a.cid, q.dim
    )"""
        )
    rf = _PQ_TRAIN_ITERS
    code_cols = ", ".join(
        f"CAST(MAX(CASE WHEN m = {mi} THEN cid END) AS INT) AS code{mi}"
        for mi in range(M)
    )
    return (
        "WITH "
        + ",\n    ".join(ctes)
        + f""",
    dfin AS (
      SELECT q.vec_id, q.m, c.cid,
             SUM((q.xi - c.c) * (q.xi - c.c)) AS d2
      FROM q JOIN cb{rf} c ON c.m = q.m AND c.dim = q.dim
      GROUP BY q.vec_id, q.m, c.cid
    ),
    afin AS (
      SELECT vec_id, m, cid FROM (
        SELECT vec_id, m, cid,
               row_number() OVER (PARTITION BY vec_id, m
                                  ORDER BY d2, cid) AS rnk
        FROM dfin) WHERE rnk = 1
    )
    SELECT vec_id, {code_cols}
    FROM afin GROUP BY vec_id"""
    )


@_q("pq_train_assign", _sql_pq_train())
def q_pq_train_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Codes under TRAINED codebooks — hash-checked (r10 upgrade from
    rows-only): the joint-sub-space Lloyd loop runs on the exact
    micro-lattice, so its bounded iteration unrolls to CTEs the same
    way kmeans_clusters does. One iteration here: each Lloyd pass
    costs one codegen of the full assignment projection, and the sweep
    needs the demonstration, not the converged codebook;
    multi-iteration invariants (quantization-error monotonicity,
    determinism) run in tests/test_pq.py with iters=2."""
    from ..ml.clustering import quantize_micros
    from ..ml.pq import pq_assign_codes_int, train_pq_codebooks

    emb = t(spark, sf_dir, "embeddings").select(
        "vec_id", quantize_micros(F.col("embedding")).alias("qv")
    )
    books = train_pq_codebooks(
        emb, "vec_id", "qv", DIM, M, K, iters=_PQ_TRAIN_ITERS
    )
    return pq_assign_codes_int(emb, "qv", books).drop("qv")


# ---------------------------------------------------------------------------
# Composed IVF-PQ search: coarse quantizer restricts candidates to the
# query's cell (the IVF tier, `relational3.ivf_assign` convention:
# centroids = first 8 vectors), then PQ asymmetric distance ranks the
# cell — per-probe cost = cell_size × M lookups, never corpus × dim.
def _sql_ivfpq_search() -> str:
    ncents = 8
    ivf_dist = (
        "sqrt(list_aggregate(list_transform(generate_series(1, 64), "
        "i -> (CAST(e.embedding[i] AS DOUBLE) - CAST(c.embedding[i] AS DOUBLE)) "
        "* (CAST(e.embedding[i] AS DOUBLE) - CAST(c.embedding[i] AS DOUBLE))), 'sum'))"
    )
    d_cols = ", ".join(
        f"round({_sql_sub_dist2(m, 'e.embedding', 'c.cv')}, 9) AS d{m}" for m in range(M)
    )
    code_cols = ", ".join(
        f"CAST(first(cid ORDER BY d{m}, cid) AS INT) AS code{m}" for m in range(M)
    )
    ld_cols = ", ".join(f"{_sql_sub_dist2(m, 'q.qv', 'c.cv')} AS d{m}" for m in range(M))
    joins = " ".join(f"JOIN ld l{m} ON l{m}.cid = a.code{m}" for m in range(M))
    adc = " + ".join(f"l{m}.d{m}" for m in range(M))
    return f"""
    WITH cents AS (SELECT vec_id AS centroid_id, embedding FROM embeddings WHERE vec_id < {ncents}),
    assign AS MATERIALIZED (
      SELECT vec_id, centroid_id
      FROM (
        SELECT e.vec_id, c.centroid_id,
               row_number() OVER (PARTITION BY e.vec_id
                                  ORDER BY round({ivf_dist}, 9), c.centroid_id) AS rn
        FROM embeddings e CROSS JOIN cents c
      ) WHERE rn = 1
    ),
    cb AS (SELECT vec_id AS cid, embedding AS cv FROM embeddings WHERE vec_id < {K}),
    cell AS (SELECT e.vec_id, e.embedding FROM embeddings e
             JOIN assign a ON a.vec_id = e.vec_id
             WHERE a.centroid_id = (SELECT centroid_id FROM assign WHERE vec_id = 0)),
    d AS MATERIALIZED (
      SELECT e.vec_id, c.cid, {d_cols}
      FROM cell e CROSS JOIN cb c
    ),
    codes AS (SELECT vec_id, {code_cols} FROM d GROUP BY vec_id),
    q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
    ld AS MATERIALIZED (SELECT c.cid, {ld_cols} FROM cb c CROSS JOIN q)
    SELECT a.vec_id, round(sqrt(0.0 + {adc}), 6) AS adc
    FROM codes a {joins}
    ORDER BY adc, a.vec_id LIMIT 10
    """


@_q("ivfpq_search", _sql_ivfpq_search())
def q_ivfpq_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..ml.pq import pq_adc_search, pq_codebooks_from_first_k
    from .relational3 import QUERIES as _R3

    emb = t(spark, sf_dir, "embeddings")
    assign = _R3["ivf_assign"](spark, sf_dir)
    qcell = assign.where(F.col("vec_id") == 0).collect()[0]["centroid_id"]
    cell = emb.join(
        assign.where(F.col("centroid_id") == F.lit(qcell)).select("vec_id"), "vec_id"
    )
    books = pq_codebooks_from_first_k(emb, "vec_id", "embedding", DIM, M, K)
    qv = [
        float(v)
        for v in emb.where(F.col("vec_id") == 0).select("embedding").collect()[0][0]
    ]
    return pq_adc_search(
        cell.select("vec_id", "embedding"), "vec_id", "embedding", books, qv, top=10
    )


# ---------------------------------------------------------------------------
# PQ shortlist + exact rerank — the production PQ deployment shape.
# Pure ADC ordering is bounded by quantization error (measured
# recall@10 on this fixture: 0.12 at K=4, 0.33 even at K=128 — random
# Gaussians are PQ's worst case), so the standard fix is: scan the
# COMPRESSED corpus with ADC, keep a shortlist, then rerank only the
# shortlist against raw vectors. Measured here: K=16 + shortlist 100
# (20% of corpus) lifts recall@10 to 0.80 while the raw-vector reads
# stay bounded by the shortlist size — at 100 TB the raw corpus is
# touched for 100 rows per query, not scanned.
RERANK_K = 16
SHORTLIST = 100
RERANK_TOPK = 10


def _sql_pq_rerank() -> str:
    ld_cols = ", ".join(
        f"{_sql_sub_dist2(m, 'q.qv', 'c.cv')} AS d{m}" for m in range(M)
    )
    joins = " ".join(f"JOIN ld l{m} ON l{m}.cid = a.code{m}" for m in range(M))
    adc = " + ".join(f"l{m}.d{m}" for m in range(M))
    exact2 = " + ".join(_sql_sub_dist2(m, "e.embedding", "q.qv") for m in range(M))
    return f"""
    WITH {_sql_cb_codes_ctes(RERANK_K)},
    q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
    ld AS MATERIALIZED (SELECT c.cid, {ld_cols} FROM cb c CROSS JOIN q),
    adc AS (
      SELECT a.vec_id, round(sqrt(0.0 + {adc}), 9) AS adc
      FROM codes a {joins}
    ),
    short AS (
      SELECT vec_id FROM adc WHERE vec_id <> 0
      ORDER BY adc, vec_id LIMIT {SHORTLIST}
    )
    SELECT s.vec_id, round(sqrt(0.0 + {exact2}), 6) AS l2_dist
    FROM short s
    JOIN embeddings e ON e.vec_id = s.vec_id
    CROSS JOIN q
    ORDER BY l2_dist, s.vec_id LIMIT {RERANK_TOPK}
    """


@_q("pq_rerank_search", _sql_pq_rerank())
def q_pq_rerank_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..ml.pq import (
        _sub_dist2_sql,
        pq_adc_search,
        pq_codebooks_from_first_k,
    )

    emb = t(spark, sf_dir, "embeddings")
    books = pq_codebooks_from_first_k(emb, "vec_id", "embedding", DIM, M, RERANK_K)
    qv = [
        float(v)
        for v in emb.where(F.col("vec_id") == 0).select("embedding").collect()[0][0]
    ]
    short = pq_adc_search(
        emb.select("vec_id", "embedding"),
        "vec_id",
        "embedding",
        books,
        qv,
        top=SHORTLIST,
        exclude_id=0,
        adc_round=9,
    ).select("vec_id")
    # exact rerank of the shortlist only: same left-associated
    # sub-space fold as the oracle's exact2 expression
    exact2 = "0.0d + " + " + ".join(
        _sub_dist2_sql("embedding", m * SUB, qv[m * SUB : (m + 1) * SUB])
        for m in range(M)
    )
    reranked = short.join(emb.select("vec_id", "embedding"), "vec_id").select(
        "vec_id", F.expr(f"round(sqrt({exact2}), 6)").alias("l2_dist")
    )
    return reranked.orderBy(F.asc("l2_dist"), F.asc("vec_id")).limit(RERANK_TOPK)


# ---------------------------------------------------------------------------
# The COMPOSED production ANN stack: IVF coarse cells (nprobe=3 of 8)
# bound the candidate set → PQ-ADC (K=16) ranks the candidates over
# compressed codes → a 50-row shortlist is reranked exactly against
# raw vectors. At scale each stage touches strictly less data than the
# last: cells cut the corpus to ~nprobe/n_cells, ADC reads 8-byte
# codes instead of raw vectors, and raw-vector reads are bounded by
# the shortlist. This is what a real deployment runs; the single-cell
# ivfpq_search above is its nprobe=1, no-rerank ablation.
IVFPQ_NPROBE = 3
IVFPQ_SHORTLIST = 50


def _sql_ivfpq_nprobe_rerank() -> str:
    ivf_dist = (
        "sqrt(list_aggregate(list_transform(generate_series(1, {n}), "
        "i -> (CAST(e.embedding[i] AS DOUBLE) - CAST(c.embedding[i] AS DOUBLE)) "
        "* (CAST(e.embedding[i] AS DOUBLE) - CAST(c.embedding[i] AS DOUBLE))), 'sum'))"
    ).format(n=DIM)
    qc_dist = ivf_dist.replace("e.embedding", "qq.embedding")
    d_cols = ", ".join(
        f"round({_sql_sub_dist2(m, 'e.embedding', 'c.cv')}, 9) AS d{m}" for m in range(M)
    )
    code_cols = ", ".join(
        f"CAST(first(cid ORDER BY d{m}, cid) AS INT) AS code{m}" for m in range(M)
    )
    ld_cols = ", ".join(f"{_sql_sub_dist2(m, 'q.qv', 'c.cv')} AS d{m}" for m in range(M))
    joins = " ".join(f"JOIN ld l{m} ON l{m}.cid = a.code{m}" for m in range(M))
    adc = " + ".join(f"l{m}.d{m}" for m in range(M))
    exact2 = " + ".join(_sql_sub_dist2(m, "e.embedding", "q.qv") for m in range(M))
    return f"""
    WITH cents AS (SELECT vec_id AS centroid_id, embedding
                   FROM embeddings WHERE vec_id < 8),
    assign AS MATERIALIZED (
      SELECT vec_id, centroid_id FROM (
        SELECT e.vec_id, c.centroid_id,
               row_number() OVER (PARTITION BY e.vec_id
                                  ORDER BY round({ivf_dist}, 9), c.centroid_id) AS rn
        FROM embeddings e CROSS JOIN cents c
      ) WHERE rn = 1
    ),
    probed AS (
      SELECT centroid_id FROM (
        SELECT c.centroid_id,
               row_number() OVER (ORDER BY round({qc_dist}, 9), c.centroid_id) AS rn
        FROM embeddings qq CROSS JOIN cents c
        WHERE qq.vec_id = 0
      ) WHERE rn <= {IVFPQ_NPROBE}
    ),
    cand AS (
      SELECT e.vec_id, e.embedding FROM embeddings e
      JOIN assign a ON a.vec_id = e.vec_id
      JOIN probed p ON p.centroid_id = a.centroid_id
      WHERE e.vec_id <> 0
    ),
    cb AS (SELECT vec_id AS cid, embedding AS cv
           FROM embeddings WHERE vec_id < {RERANK_K}),
    d AS MATERIALIZED (
      SELECT e.vec_id, c.cid, {d_cols} FROM cand e CROSS JOIN cb c
    ),
    codes AS (SELECT vec_id, {code_cols} FROM d GROUP BY vec_id),
    q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
    ld AS MATERIALIZED (SELECT c.cid, {ld_cols} FROM cb c CROSS JOIN q),
    short AS (
      SELECT a.vec_id FROM codes a {joins}
      ORDER BY round(sqrt(0.0 + {adc}), 9), a.vec_id LIMIT {IVFPQ_SHORTLIST}
    )
    SELECT s.vec_id, round(sqrt(0.0 + {exact2}), 6) AS l2_dist
    FROM short s
    JOIN embeddings e ON e.vec_id = s.vec_id
    CROSS JOIN q
    ORDER BY l2_dist, s.vec_id LIMIT 10
    """


@_q("ivfpq_nprobe_rerank", _sql_ivfpq_nprobe_rerank())
def q_ivfpq_nprobe_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from ..functions.vectors import l2_distance
    from ..ml.pq import _sub_dist2_sql, pq_adc_search, pq_codebooks_from_first_k
    from ..operators.similarity import as_double_array

    emb = t(spark, sf_dir, "embeddings")
    cents = emb.where(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("centroid_id"), F.col("embedding").alias("ce")
    )
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
    # probed cells for the query vector: nprobe ids, one bounded collect
    qrow = emb.where(F.col("vec_id") == 0).select("embedding")
    qv = [float(v) for v in qrow.collect()[0][0]]
    qc = cents.select(
        "centroid_id",
        F.round(
            l2_distance(
                as_double_array(F.col("ce")),
                F.array(*[F.lit(v) for v in qv]),
            ),
            9,
        ).alias("qd"),
    )
    probed = [
        r["centroid_id"]
        for r in qc.orderBy(F.asc("qd"), F.asc("centroid_id"))
        .limit(IVFPQ_NPROBE)
        .collect()
    ]
    cand = emb.join(
        assign.where(F.col("centroid_id").isin(probed)).select("vec_id"), "vec_id"
    ).where(F.col("vec_id") != 0)
    books = pq_codebooks_from_first_k(emb, "vec_id", "embedding", DIM, M, RERANK_K)
    short = pq_adc_search(
        cand.select("vec_id", "embedding"),
        "vec_id",
        "embedding",
        books,
        qv,
        top=IVFPQ_SHORTLIST,
        adc_round=9,
    ).select("vec_id")
    exact2 = "0.0d + " + " + ".join(
        _sub_dist2_sql("embedding", m * SUB, qv[m * SUB : (m + 1) * SUB])
        for m in range(M)
    )
    reranked = short.join(emb.select("vec_id", "embedding"), "vec_id").select(
        "vec_id", F.expr(f"round(sqrt({exact2}), 6)").alias("l2_dist")
    )
    return reranked.orderBy(F.asc("l2_dist"), F.asc("vec_id")).limit(10)


# ---------------------------------------------------------------------------
# OPQ-style subspace energy balance (Ge et al. 2013's objective,
# permutation tier): product quantization splits dims into M=8
# subspaces; OPQ rotates so per-subspace energy is balanced (balanced
# energy -> balanced codebook utilization -> lower distortion at
# equal bits). The proxy compares the NATURAL allocation (contiguous
# dim blocks) against a STRIDED permutation (dim i -> subspace
# i mod 8) on an anisotropy-STRETCHED view (dim i scaled by
# (16 + i)/16 — the fixture embeddings are near-isotropic, so the
# stretch makes imbalance visible; a permutation matrix IS an
# orthogonal rotation, so this is the legitimate cheap tier of OPQ).
# Exact lattice: stretched values are xq*(16+i) integers; energies
# are DECIMAL(38,0)/HUGEINT sums; the imbalance ratio max/min is the
# one float. Natural blocks concentrate the high-index (high-scale)
# dims -> high ratio; striding spreads them -> ratio near 1.
@_q(
    "opq_energy_balance",
    """
    WITH pts AS (
      SELECT CAST(round(CAST(embedding[i] AS DOUBLE) * 1000000) AS BIGINT)
               * (16 + i) AS yq,
             (i - 1) // 8 AS sub_nat,
             (i - 1) % 8 AS sub_str
      FROM embeddings, LATERAL unnest(generate_series(1, len(embedding))) AS s(i)
    ),
    e_nat AS (
      SELECT 'natural' AS allocation, sub_nat AS subspace,
             SUM(CAST(yq AS HUGEINT) * yq) AS energy
      FROM pts GROUP BY sub_nat
    ),
    e_str AS (
      SELECT 'strided' AS allocation, sub_str AS subspace,
             SUM(CAST(yq AS HUGEINT) * yq) AS energy
      FROM pts GROUP BY sub_str
    ),
    u AS (SELECT * FROM e_nat UNION ALL SELECT * FROM e_str)
    SELECT allocation,
           CAST(COUNT(*) AS BIGINT) AS n_subspaces,
           round(CAST(MAX(energy) AS DOUBLE) / MIN(energy), 6)
             AS imbalance_ratio,
           round(CAST(MAX(energy) AS DOUBLE)
                 / CAST(SUM(energy) AS DOUBLE), 6) AS max_share
    FROM u GROUP BY allocation ORDER BY allocation
    """,
)
def q_opq_energy_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = t(spark, sf_dir, "embeddings")
    pts = emb.select(F.posexplode("embedding").alias("pos0", "x")).select(
        (F.col("pos0") + 1).alias("i"),
        (
            F.round(F.col("x").cast("double") * 1000000).cast("bigint")
            * (F.col("pos0") + 17)
        ).alias("yq"),
    )
    pts = pts.select(
        "yq",
        ((F.col("i") - 1) / 8).cast("bigint").alias("sub_nat"),
        ((F.col("i") - 1) % 8).alias("sub_str"),
    )
    en = pts.groupBy(F.col("sub_nat").alias("subspace")).agg(
        F.sum(F.col("yq").cast("decimal(38,0)") * F.col("yq")).alias("energy")
    ).select(F.lit("natural").alias("allocation"), "subspace", "energy")
    es = pts.groupBy(F.col("sub_str").alias("subspace")).agg(
        F.sum(F.col("yq").cast("decimal(38,0)") * F.col("yq")).alias("energy")
    ).select(F.lit("strided").alias("allocation"), "subspace", "energy")
    return (
        en.unionByName(es)
        .groupBy("allocation")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_subspaces"),
            F.round(
                F.max("energy").cast("double") / F.min("energy").cast("double"),
                6,
            ).alias("imbalance_ratio"),
            F.round(
                F.max("energy").cast("double") / F.sum("energy").cast("double"),
                6,
            ).alias("max_share"),
        )
        .orderBy("allocation")
    )
