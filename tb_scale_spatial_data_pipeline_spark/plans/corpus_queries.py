"""Corpus-preparation queries: the operations an LLM training-data
pipeline runs between raw scrape and tokenizer — benchmark
decontamination, corpus-level segment dedup (the C4 shape), chunking
with overlap, repetition-based quality filtering (the Gopher shape),
and PII pseudonymization with a k-anonymity audit.

Scale notes (100 TB):
- Decontamination joins the corpus n-gram stream against the
  *benchmark* n-gram set, which is tiny (eval suites are MBs) — the
  join is broadcast, so the corpus never shuffles on the gram key.
- Segment dedup is the one shape that MUST shuffle on content: keep-
  first semantics need all copies of a segment hash on one reducer.
  One Exchange on the hash, then a window row_number — no all-pairs.
- Chunking and repetition metrics are per-row array math (pure
  Catalyst, zero Python), so they pipeline inside the scan stage.
- Pseudonymization is per-row; the k-anonymity audit is one window
  count over the quasi-identifier — a single shuffle on (nation,
  band), the same cost as the groupBy a reporting query would do.

All oracle SQL is kept in lock-step with the Spark expressions:
identical normalization, identical gram/segment boundaries, and
single-division rationals (exact-integer numerators/denominators) so
floats are bit-equal across engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.text import normalize_text, word_tokens
from ._util import _SQL_WORDS, _words_df, t, registry

QUERIES, ORACLES, _q = registry()


# Benchmark membership: every 7th doc plays the held-out eval suite.
_BENCH_MOD = 7
_GRAM_N = 8
_SEG_N = 8
_CHUNK_LEN = 32
_CHUNK_STRIDE = 24
_KANON_K = 5
# Band width chosen so the (nation, band) classes split into kept AND
# suppressed at BOTH sf0.001 (134/16) and sf0.01 (27/1473) — a
# threshold that accepts or rejects everything proves nothing.
_KANON_BAND = 4000
# Gopher-style repetition ceilings (word-salad fixture calibrated).
_TOP_WORD_FRAC = 0.10
_TOP_BIGRAM_FRAC = 0.05


# ---------------------------------------------------------------------------
# Benchmark decontamination: flag training docs sharing >=1 verbatim
# 8-gram with the benchmark set (the n-gram-overlap decontamination
# used for LLM eval hygiene; 13-grams in the literature, 8 here to
# match the fixture's doc lengths). Benchmark gram set is broadcast.
@_q(
    "benchmark_decontamination",
    f"""
    WITH words AS (
      SELECT doc_id, {_SQL_WORDS} AS w FROM documents
    ), grams AS (
      SELECT DISTINCT doc_id, array_to_string(w[i:i+{_GRAM_N - 1}], ' ') AS gram
      FROM words, LATERAL unnest(generate_series(1, len(w) - {_GRAM_N - 1})) AS s(i)
      WHERE len(w) >= {_GRAM_N}
    ), bench AS (
      SELECT DISTINCT gram FROM grams WHERE doc_id % {_BENCH_MOD} = 0
    ), train AS (
      SELECT * FROM grams WHERE doc_id % {_BENCH_MOD} <> 0
    ), tot AS (
      SELECT doc_id, COUNT(*) AS n_grams FROM train GROUP BY 1
    ), con AS (
      SELECT t.doc_id, COUNT(*) AS n_contam
      FROM train t JOIN bench b USING (gram) GROUP BY 1
    )
    SELECT c.doc_id, t.n_grams, c.n_contam,
           round(CAST(c.n_contam AS DOUBLE) / t.n_grams, 9) AS contam_rate
    FROM con c JOIN tot t USING (doc_id)
    """,
)
def q_benchmark_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    words = _words_df(spark, sf_dir).where(F.size("w") >= _GRAM_N)
    grams = words.select(
        "doc_id",
        F.explode(
            F.expr(
                f"transform(sequence(1, size(w) - {_GRAM_N - 1}),"
                f" i -> array_join(slice(w, i, {_GRAM_N}), ' '))"
            )
        ).alias("gram"),
    ).distinct()
    bench = (
        grams.where(F.col("doc_id") % _BENCH_MOD == 0).select("gram").distinct()
    )
    train = grams.where(F.col("doc_id") % _BENCH_MOD != 0)
    tot = train.groupBy("doc_id").agg(F.count("*").alias("n_grams"))
    con = (
        train.join(F.broadcast(bench), "gram")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_contam"))
    )
    return con.join(tot, "doc_id").select(
        "doc_id",
        "n_grams",
        "n_contam",
        F.round(
            F.col("n_contam").cast("double") / F.col("n_grams"), 9
        ).alias("contam_rate"),
    )


# ---------------------------------------------------------------------------
# Corpus-level segment dedup: split each doc into non-overlapping
# 8-word segments, keep each segment's globally-first occurrence
# (order = (doc_id, seg_idx)), report per-doc retention. This is the
# C4 "dedup repeated spans across the corpus" shape: one Exchange on
# the segment content, keep-first via window row_number.
@_q(
    "corpus_segment_dedup",
    f"""
    WITH words AS (
      SELECT doc_id, {_SQL_WORDS} AS w FROM documents
    ), segs AS (
      SELECT doc_id, i AS seg_idx,
             array_to_string(w[(i*{_SEG_N}+1):((i+1)*{_SEG_N})], ' ') AS seg
      FROM words, LATERAL unnest(generate_series(
             0, CAST(floor(len(w) / {_SEG_N}) AS INT) - 1)) AS s(i)
    ), ranked AS (
      SELECT doc_id,
             row_number() OVER (PARTITION BY seg ORDER BY doc_id, seg_idx) AS rn
      FROM segs
    )
    SELECT doc_id,
           COUNT(*) AS n_segs,
           COUNT(*) FILTER (rn = 1) AS n_kept,
           COUNT(*) FILTER (rn > 1) AS n_dropped
    FROM ranked GROUP BY 1
    """,
)
def q_corpus_segment_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    words = _words_df(spark, sf_dir)
    segs = words.select(
        "doc_id",
        F.posexplode(
            F.expr(
                f"transform(sequence(0, cast(floor(size(w) / {_SEG_N}) as int) - 1),"
                f" i -> array_join(slice(w, i * {_SEG_N} + 1, {_SEG_N}), ' '))"
            )
        ).alias("seg_idx", "seg"),
    )
    rn = F.row_number().over(
        Window.partitionBy("seg").orderBy("doc_id", "seg_idx")
    )
    return (
        segs.withColumn("rn", rn)
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_segs"),
            F.sum(F.when(F.col("rn") == 1, 1).otherwise(0)).alias("n_kept"),
            F.sum(F.when(F.col("rn") > 1, 1).otherwise(0)).alias("n_dropped"),
        )
    )


# ---------------------------------------------------------------------------
# RAG/training chunking: fixed 32-token windows at stride 24 (8-token
# overlap), partial tail kept. Pure per-row array math — pipelines
# inside the scan, no shuffle at any scale. Chunk text leaves the
# operator as an md5 so wide strings never travel further than needed.
@_q(
    "doc_chunk_overlap",
    f"""
    WITH words AS (
      SELECT doc_id, {_SQL_WORDS} AS w FROM documents
    )
    SELECT doc_id,
           CAST(s // {_CHUNK_STRIDE} AS INT) AS chunk_idx,
           CAST(len(w[(s+1):(s+{_CHUNK_LEN})]) AS INT) AS n_chunk_tokens,
           md5(array_to_string(w[(s+1):(s+{_CHUNK_LEN})], ' ')) AS chunk_hash
    FROM words, LATERAL unnest(generate_series(0, len(w) - 1, {_CHUNK_STRIDE})) AS t(s)
    WHERE len(w) > 0
    """,
)
def q_doc_chunk_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    words = _words_df(spark, sf_dir).where(F.size("w") > 0)
    return (
        words.select(
            "doc_id",
            "w",
            F.explode(
                F.sequence(F.lit(0), F.size("w") - 1, F.lit(_CHUNK_STRIDE))
            ).alias("s"),
        )
        .select(
            "doc_id",
            (F.col("s") / _CHUNK_STRIDE).cast("int").alias("chunk_idx"),
            F.size(F.expr(f"slice(w, s + 1, {_CHUNK_LEN})")).alias(
                "n_chunk_tokens"
            ),
            F.md5(
                F.expr(f"array_join(slice(w, s + 1, {_CHUNK_LEN}), ' ')")
            ).alias("chunk_hash"),
        )
    )


# ---------------------------------------------------------------------------
# Gopher-style repetition quality: fraction of words claimed by the
# single most frequent word / bigram. Fractions are single divisions
# of exact integers, so flags compare bit-identically cross-engine.
@_q(
    "gopher_repetition_quality",
    f"""
    WITH words AS (
      SELECT doc_id, {_SQL_WORDS} AS w FROM documents
    ), uni AS (
      SELECT doc_id, word, COUNT(*) AS c
      FROM words, LATERAL unnest(w) AS u(word) GROUP BY 1, 2
    ), bi AS (
      SELECT doc_id, bg, COUNT(*) AS c
      FROM (SELECT doc_id, w[i-1] || ' ' || w[i] AS bg
            FROM words, LATERAL unnest(generate_series(2, len(w))) AS s(i)
            WHERE len(w) >= 2) GROUP BY 1, 2
    ), us AS (
      SELECT doc_id, CAST(max(c) AS DOUBLE) / SUM(c) AS top_word_frac FROM uni GROUP BY 1
    ), bs AS (
      SELECT doc_id, CAST(max(c) AS DOUBLE) / SUM(c) AS top_bigram_frac FROM bi GROUP BY 1
    )
    SELECT us.doc_id,
           round(us.top_word_frac, 9) AS top_word_frac,
           round(bs.top_bigram_frac, 9) AS top_bigram_frac,
           (us.top_word_frac > {_TOP_WORD_FRAC}
            OR bs.top_bigram_frac > {_TOP_BIGRAM_FRAC}) AS repetitive
    FROM us JOIN bs USING (doc_id)
    """,
)
def q_gopher_repetition_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    words = _words_df(spark, sf_dir)
    uni = (
        words.select("doc_id", F.explode("w").alias("word"))
        .groupBy("doc_id", "word")
        .agg(F.count("*").alias("c"))
        .groupBy("doc_id")
        .agg((F.max("c").cast("double") / F.sum("c")).alias("top_word_frac"))
    )
    bi = (
        words.where(F.size("w") >= 2)
        .select(
            "doc_id",
            F.explode(
                F.expr(
                    "transform(sequence(2, size(w)),"
                    " i -> concat(element_at(w, i - 1), ' ', element_at(w, i)))"
                )
            ).alias("bg"),
        )
        .groupBy("doc_id", "bg")
        .agg(F.count("*").alias("c"))
        .groupBy("doc_id")
        .agg((F.max("c").cast("double") / F.sum("c")).alias("top_bigram_frac"))
    )
    return uni.join(bi, "doc_id").select(
        "doc_id",
        F.round("top_word_frac", 9).alias("top_word_frac"),
        F.round("top_bigram_frac", 9).alias("top_bigram_frac"),
        (
            (F.col("top_word_frac") > _TOP_WORD_FRAC)
            | (F.col("top_bigram_frac") > _TOP_BIGRAM_FRAC)
        ).alias("repetitive"),
    )


# ---------------------------------------------------------------------------
# PII pseudonymization + k-anonymity audit: direct identifier becomes
# a salted-hash pseudonym; the quasi-identifier (nation, acctbal band)
# gets its equivalence-class size, and classes below k are marked for
# suppression — the release-gating audit a privacy-preserving corpus
# build runs before shipping user-derived rows.
@_q(
    "pii_pseudonymize_kanon",
    f"""
    SELECT c_custkey,
           substring(md5('pepper::' || c_name), 1, 16) AS pseudonym,
           c_nationkey,
           CAST(floor(c_acctbal / {_KANON_BAND}) AS INT) AS acct_band,
           COUNT(*) OVER (PARTITION BY c_nationkey,
                          CAST(floor(c_acctbal / {_KANON_BAND}) AS INT)) AS k_size,
           COUNT(*) OVER (PARTITION BY c_nationkey,
                          CAST(floor(c_acctbal / {_KANON_BAND}) AS INT))
             < {_KANON_K} AS suppress
    FROM customer
    """,
)
def q_pii_pseudonymize_kanon(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = t(spark, sf_dir, "customer")
    band = F.floor(F.col("c_acctbal") / _KANON_BAND).cast("int")
    k_size = F.count("*").over(Window.partitionBy("c_nationkey", "acct_band"))
    return (
        cust.select(
            "c_custkey",
            F.substring(F.md5(F.concat(F.lit("pepper::"), F.col("c_name"))), 1, 16).alias(
                "pseudonym"
            ),
            "c_nationkey",
            band.alias("acct_band"),
        )
        .withColumn("k_size", k_size)
        .withColumn("suppress", F.col("k_size") < _KANON_K)
    )


# ---------------------------------------------------------------------------
# Directional shingle containment: C(A->B) = |sh(A) n sh(B)| / |sh(A)|.
# Jaccard misses subset duplication (a short doc quoted inside a long
# one scores low Jaccard but containment ~1) — the asymmetric check an
# LLM dedup pass needs for quote/boilerplate inclusion. Same
# deterministic pairing as ngram_jaccard_pairs, shingles projected
# once per doc before the pair join.
@_q(
    "shingle_containment_pairs",
    r"""
    WITH norm AS (
      SELECT doc_id, source,
             trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS n
      FROM documents
    ), sh AS MATERIALIZED (
      SELECT doc_id, source,
             list_distinct(CASE WHEN length(n) < 5 THEN [n]
               ELSE list_transform(generate_series(1, length(n) - 4),
                    i -> substring(n, i, 5)) END) AS sh
      FROM norm
    )
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           round(len(list_intersect(a.sh, b.sh)) * 1.0 / len(a.sh), 6)
             AS containment_a,
           round(len(list_intersect(a.sh, b.sh)) * 1.0 / len(b.sh), 6)
             AS containment_b
    FROM sh a JOIN sh b ON a.source = b.source AND b.doc_id = a.doc_id + 20
    """,
)
def q_shingle_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.text import shingles_of_norm

    docs = t(spark, sf_dir, "documents").select("doc_id", "source", "text")
    sh = docs.select(
        "doc_id", "source", normalize_text(F.col("text")).alias("_n")
    ).select(
        "doc_id",
        "source",
        F.array_distinct(shingles_of_norm(F.col("_n"))).alias("sh"),
    ).localCheckpoint()  # shingle once; both join sides read the table
    a = sh.select(
        F.col("doc_id").alias("id_a"),
        F.col("source").alias("src_a"),
        F.col("sh").alias("sh_a"),
    )
    b = sh.select(
        F.col("doc_id").alias("id_b"),
        F.col("source").alias("src_b"),
        F.col("sh").alias("sh_b"),
    )
    pairs = a.join(b, (a["src_a"] == b["src_b"]) & (b["id_b"] == a["id_a"] + 20))
    inter = F.size(F.array_intersect(F.col("sh_a"), F.col("sh_b")))
    return pairs.select(
        "id_a",
        "id_b",
        F.round(inter.cast("double") / F.size("sh_a"), 6).alias("containment_a"),
        F.round(inter.cast("double") / F.size("sh_b"), 6).alias("containment_b"),
    )


# ---------------------------------------------------------------------------
# Entity resolution: fuzzy-match pairs (blocked edit distance, the
# fuzzy_name_match contract) become edges; connected components give
# each name an entity id (min name in its cluster) — the "same
# real-world thing, different spellings" grouping step a corpus
# de-biasing / catalog-merge pipeline runs after pairwise matching.
# Oracle: recursive min-label CTE over the identical pair set.
@_q(
    "entity_resolution_clusters",
    """
    WITH RECURSIVE n AS (SELECT DISTINCT p_name FROM part),
    pairs AS MATERIALIZED (
      SELECT a.p_name AS name_a, b.p_name AS name_b
      FROM n a JOIN n b
        ON substring(a.p_name, 1, 1) = substring(b.p_name, 1, 1)
       AND abs(length(a.p_name) - length(b.p_name)) <= 2
       AND a.p_name < b.p_name
      WHERE levenshtein(a.p_name, b.p_name) <= 3
    ),
    edges AS (SELECT name_a AS s, name_b AS d FROM pairs
              UNION ALL SELECT name_b, name_a FROM pairs),
    reach(node, lbl) AS (
      SELECT DISTINCT s, s FROM edges
      UNION
      SELECT e.d, r.lbl FROM reach r JOIN edges e ON e.s = r.node
      WHERE r.lbl < e.d
    ),
    labels AS (SELECT node AS name, MIN(lbl) AS entity_id
               FROM reach GROUP BY node)
    SELECT name, entity_id,
           CAST(COUNT(*) OVER (PARTITION BY entity_id) AS BIGINT)
             AS entity_size
    FROM labels
    """,
)
def q_entity_resolution_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import connected_components
    from .text_queries import q_fuzzy_name_match

    pairs = q_fuzzy_name_match(spark, sf_dir).select("name_a", "name_b")
    comp = connected_components(pairs, "name_a", "name_b")
    w = Window.partitionBy("cluster_id")
    return comp.select(
        F.col("node").alias("name"),
        F.col("cluster_id").alias("entity_id"),
        F.count(F.lit(1)).over(w).alias("entity_size"),
    )


# ---------------------------------------------------------------------------
# The final corpus cut: a doc survives if it is (a) not repetitive
# (Gopher fractions), (b) not benchmark-contaminated, and (c) not a
# non-first exact duplicate. Per-source acceptance report — the
# decision artifact a curation pipeline actually ships. Composes the
# tier's filters in ONE plan: each input is an aggregate/semi-join
# over already-bounded intermediates, so the cut costs no more than
# its parts.
@_q(
    "corpus_final_cut",
    f"""
    WITH words AS (
      SELECT doc_id, source, {_SQL_WORDS} AS w FROM documents
    ), uni AS (
      SELECT doc_id, word, COUNT(*) AS c
      FROM words, LATERAL unnest(w) AS u(word) GROUP BY 1, 2
    ), rep AS (
      SELECT doc_id, CAST(max(c) AS DOUBLE) / SUM(c) > {_TOP_WORD_FRAC} AS repetitive
      FROM uni GROUP BY doc_id
    ), grams AS (
      SELECT DISTINCT doc_id, array_to_string(w[i:i+{_GRAM_N - 1}], ' ') AS gram
      FROM words, LATERAL unnest(generate_series(1, len(w) - {_GRAM_N - 1})) AS s(i)
      WHERE len(w) >= {_GRAM_N}
    ), bench AS (
      SELECT DISTINCT gram FROM grams WHERE doc_id % {_BENCH_MOD} = 0
    ), contaminated AS (
      SELECT DISTINCT g.doc_id FROM grams g JOIN bench b USING (gram)
      WHERE g.doc_id % {_BENCH_MOD} <> 0
    ), dups AS (
      SELECT doc_id FROM (
        SELECT doc_id, row_number() OVER (
          PARTITION BY md5(array_to_string(w, ' ')) ORDER BY doc_id) AS rn
        FROM words
      ) WHERE rn > 1
    ), verdicts AS (
      SELECT w.doc_id, w.source,
             (NOT r.repetitive
              AND c.doc_id IS NULL
              AND d.doc_id IS NULL
              AND w.doc_id % {_BENCH_MOD} <> 0) AS accepted
      FROM words w
      JOIN rep r ON r.doc_id = w.doc_id
      LEFT JOIN contaminated c ON c.doc_id = w.doc_id
      LEFT JOIN dups d ON d.doc_id = w.doc_id
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(COUNT(*) FILTER (accepted) AS BIGINT) AS n_accepted,
           round(CAST(COUNT(*) FILTER (accepted) AS DOUBLE) / COUNT(*), 6)
             AS acceptance_rate
    FROM verdicts GROUP BY source
    """,
)
def q_corpus_final_cut(spark: SparkSession, sf_dir: str) -> DataFrame:
    words = t(spark, sf_dir, "documents").select(
        "doc_id", "source", word_tokens(normalize_text(F.col("text"))).alias("w")
    )
    rep = (
        words.select("doc_id", F.explode("w").alias("word"))
        .groupBy("doc_id", "word")
        .agg(F.count("*").alias("c"))
        .groupBy("doc_id")
        .agg(
            (F.max("c").cast("double") / F.sum("c") > _TOP_WORD_FRAC).alias(
                "repetitive"
            )
        )
    )
    grams = (
        words.where(F.size("w") >= _GRAM_N)
        .select(
            "doc_id",
            F.explode(
                F.expr(
                    f"transform(sequence(1, size(w) - {_GRAM_N - 1}),"
                    f" i -> array_join(slice(w, i, {_GRAM_N}), ' '))"
                )
            ).alias("gram"),
        )
        .distinct()
    )
    bench = grams.where(F.col("doc_id") % _BENCH_MOD == 0).select("gram").distinct()
    contaminated = (
        grams.where(F.col("doc_id") % _BENCH_MOD != 0)
        .join(F.broadcast(bench), "gram")
        .select("doc_id")
        .distinct()
        .withColumn("is_contam", F.lit(True))
    )
    dups = (
        words.select(
            "doc_id", F.md5(F.array_join("w", " ")).alias("fp")
        )
        .withColumn(
            "rn",
            F.row_number().over(Window.partitionBy("fp").orderBy("doc_id")),
        )
        .where(F.col("rn") > 1)
        .select("doc_id")
        .withColumn("is_dup", F.lit(True))
    )
    verdicts = (
        words.select("doc_id", "source")
        .join(rep, "doc_id")
        .join(contaminated, "doc_id", "left")
        .join(dups, "doc_id", "left")
        .select(
            "source",
            (
                (~F.col("repetitive"))
                & F.col("is_contam").isNull()
                & F.col("is_dup").isNull()
                & (F.col("doc_id") % _BENCH_MOD != 0)
            ).alias("accepted"),
        )
    )
    return verdicts.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum(F.when(F.col("accepted"), 1).otherwise(0)).alias("n_accepted"),
        F.round(
            F.sum(F.when(F.col("accepted"), 1).otherwise(0)).cast("double")
            / F.count("*"),
            6,
        ).alias("acceptance_rate"),
    )


# ---------------------------------------------------------------------------
# Incremental dedup ingest: the batch-append contract — an incoming
# half of the corpus is deduplicated (a) within itself (keep-first by
# doc_id per fingerprint) and (b) against the already-ingested base
# via an anti-join on the fingerprint. At 100 TB the base side is the
# accumulated fingerprint index (fingerprints only — text never
# reshuffles), the incoming batch shuffles once on fingerprint for
# both steps, and the anti-join is the standard "new data only"
# ingestion gate. Fingerprint = md5 of the 40-char prefix (the
# fixture's near-dup generator repeats prefixes; full-text md5 is the
# exact_dedup query). The split point is max(doc_id)/2, computed
# in-plan (one scalar, broadcast).
@_q(
    "incremental_dedup_ingest",
    """
    WITH half AS (SELECT (max(doc_id) + 1) // 2 AS h FROM documents),
    fp AS (
      SELECT doc_id, source, md5(substring(text, 1, 40)) AS fingerprint
      FROM documents
    ),
    base AS (SELECT DISTINCT fingerprint FROM fp, half WHERE doc_id < h),
    incoming AS (SELECT fp.* FROM fp, half WHERE doc_id >= h),
    firsts AS (
      SELECT doc_id, source, fingerprint,
             row_number() OVER (PARTITION BY fingerprint
                                ORDER BY doc_id) AS rn
      FROM incoming
    )
    SELECT doc_id, source, fingerprint
    FROM firsts
    WHERE rn = 1
      AND fingerprint NOT IN (SELECT fingerprint FROM base)
    """,
)
def q_incremental_dedup_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents")
    half = docs.agg(((F.max("doc_id") + 1) / 2).cast("bigint").alias("h"))
    fp = docs.select(
        "doc_id",
        "source",
        F.md5(F.substring(F.col("text"), 1, 40)).alias("fingerprint"),
    ).crossJoin(F.broadcast(half))
    base = fp.where(F.col("doc_id") < F.col("h")).select("fingerprint").distinct()
    incoming = fp.where(F.col("doc_id") >= F.col("h"))
    rn = F.row_number().over(
        Window.partitionBy("fingerprint").orderBy("doc_id")
    )
    return (
        incoming.withColumn("rn", rn)
        .where(F.col("rn") == 1)
        .join(base, "fingerprint", "left_anti")
        .select("doc_id", "source", "fingerprint")
    )


# ---------------------------------------------------------------------------
# Content-defined chunking: boundaries where the hash of the 8-char
# gram ending at each position satisfies hash % 64 == 0 (expected
# chunk ~64 chars) — the dedup-friendly chunking (LBFS/rsync family)
# whose boundaries survive insertions because they depend on CONTENT,
# not offsets, unlike doc_chunk_overlap's fixed windows. Per-position
# gram hashing unrolls inside the row (generate_series/transform — no
# join); the report is per-doc chunk count and mean/max chunk length.
_CDC_GRAM = 8
_CDC_MASK = 64


@_q(
    "content_defined_chunking",
    f"""
    WITH bounds AS (
      SELECT doc_id, length(text) AS n,
             list_sort(list_filter(
               [CASE WHEN CAST(('0x' || substring(
                        md5(substring(text, i, {_CDC_GRAM})), 1, 8))
                        AS BIGINT) % {_CDC_MASK} = 0
                     THEN i + {_CDC_GRAM} - 1 END
                FOR i IN generate_series(1, length(text) - {_CDC_GRAM} + 1)],
               x -> x IS NOT NULL)) AS cuts
      FROM documents
    ), chunks AS (
      SELECT doc_id, n,
             list_prepend(CAST(0 AS BIGINT),
                          list_append(cuts, CAST(n AS BIGINT))) AS edges
      FROM bounds
    ), lens AS (
      SELECT doc_id,
             [edges[i + 1] - edges[i]
              FOR i IN generate_series(1, len(edges) - 1)] AS ls
      FROM chunks
    )
    SELECT doc_id,
           CAST(len(list_filter(ls, x -> x > 0)) AS BIGINT) AS n_chunks,
           round(CAST(list_sum(ls) AS DOUBLE)
                 / len(list_filter(ls, x -> x > 0)), 6) AS mean_chunk_len,
           CAST(list_max(ls) AS BIGINT) AS max_chunk_len
    FROM lens
    """,
)
def q_content_defined_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents")
    cuts = F.expr(
        f"array_sort(filter(transform("
        f"sequence(1, length(text) - {_CDC_GRAM} + 1),"
        f" i -> CASE WHEN conv(substring(md5(substring(text, i, {_CDC_GRAM})),"
        f" 1, 8), 16, 10) % {_CDC_MASK} = 0"
        f" THEN cast(i + {_CDC_GRAM} - 1 as bigint) END),"
        f" x -> x IS NOT NULL))"
    )
    bounds = docs.select(
        "doc_id", F.length("text").alias("n"), cuts.alias("cuts")
    )
    edges = F.concat(
        F.array(F.lit(0).cast("bigint")),
        F.col("cuts"),
        F.array(F.col("n").cast("bigint")),
    )
    lens = (
        bounds.withColumn("edges", edges)
        .select(
            "doc_id",
            F.expr(
                "transform(sequence(1, size(edges) - 1),"
                " i -> element_at(edges, i + 1) - element_at(edges, i))"
            ).alias("ls"),
        )
    )
    nz = F.size(F.filter(F.col("ls"), lambda x: x > 0))
    return lens.select(
        "doc_id",
        nz.cast("bigint").alias("n_chunks"),
        F.round(
            F.aggregate(
                "ls", F.lit(0).cast("bigint"), lambda acc, x: acc + x
            ).cast("double")
            / nz,
            6,
        ).alias("mean_chunk_len"),
        F.array_max("ls").cast("bigint").alias("max_chunk_len"),
    )


# ---------------------------------------------------------------------------
# Per-source language-mix entropy: how language-diverse each source's
# contribution is — the corpus-curation readout that catches a
# "multilingual" source that is actually 95% one language. Counts are
# exact; the entropy sum is an ordered fold over languages (the
# repo's transcendental seam).
@_q(
    "source_language_entropy",
    """
    WITH counts AS (
      SELECT source, lang, COUNT(*) AS c FROM documents GROUP BY source, lang
    ), shares AS (
      SELECT source, lang, c,
             c / CAST(SUM(c) OVER (PARTITION BY source) AS DOUBLE) AS sh
      FROM counts
    )
    SELECT source, CAST(SUM(c) AS BIGINT) AS n_docs,
           CAST(COUNT(*) AS BIGINT) AS n_langs,
           round(SUM(-1.0 * sh * ln(sh) ORDER BY lang), 6) AS lang_entropy
    FROM shares GROUP BY source ORDER BY source
    """,
)
def q_source_language_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents")
    counts = docs.groupBy("source", "lang").agg(F.count(F.lit(1)).alias("c"))
    sh = F.col("c") / F.sum("c").over(Window.partitionBy("source")).cast(
        "double"
    )
    terms = counts.select(
        "source", "lang", "c", (-sh * F.log(sh)).alias("term")
    )
    return (
        terms.groupBy("source")
        .agg(
            F.sum("c").cast("bigint").alias("n_docs"),
            F.count(F.lit(1)).cast("bigint").alias("n_langs"),
            F.round(
                F.expr(
                    "aggregate(array_sort(collect_list(struct(lang, term))),"
                    " cast(0.0 as double), (acc, x) -> acc + x.term)"
                ),
                6,
            ).alias("lang_entropy"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# Cross-doc repeated-substring spans (the substring-level dedup signal
# of Lee et al. 2022, "Deduplicating Training Data Makes Language
# Models Better", re-shaped from suffix arrays to a relational plan):
# hash every W-token window, keep window hashes occurring in >= 2
# DISTINCT docs, and merge each doc's duplicated windows into maximal
# spans (windows at positions p, q overlap/adjoin when q - p <= W).
# Unlike doc-level MinHash this localizes WHICH tokens are boilerplate
# shared across documents — the spans are what a substring-dedup pass
# would cut.
#
# Scale: windows are n-per-doc rows whose 16-byte md5 is the ONLY
# shuffled payload; the duplicated-hash set (corpus-bounded, typically
# tiny) comes back via a semi-join; span merging is a per-doc window
# (partitioned by doc_id, never global). The suffix-array formulation
# needs a global sort of every suffix — this plan needs one hash
# aggregation.
_DUPWIN = 8  # window length in tokens


@_q(
    "repeated_substring_spans",
    f"""
    WITH words AS (
      SELECT doc_id, {_SQL_WORDS} AS w FROM documents
    ), wins AS MATERIALIZED (
      SELECT doc_id, i AS pos,
             md5(array_to_string(w[i:i+{_DUPWIN - 1}], ' ')) AS h
      FROM words, LATERAL unnest(generate_series(1, len(w) - {_DUPWIN - 1})) AS s(i)
      WHERE len(w) >= {_DUPWIN}
    ), dup AS (
      SELECT h FROM wins GROUP BY h HAVING COUNT(DISTINCT doc_id) >= 2
    ), hits AS (
      SELECT w.doc_id, w.pos FROM wins w SEMI JOIN dup d ON w.h = d.h
    ), flagged AS (
      SELECT doc_id, pos,
             CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos)
                       <= {_DUPWIN} THEN 0 ELSE 1 END AS brk
      FROM hits
    ), islands AS (
      SELECT doc_id, pos,
             SUM(brk) OVER (PARTITION BY doc_id ORDER BY pos) AS island
      FROM flagged
    ), spans AS (
      SELECT doc_id, island, MIN(pos) AS s, MAX(pos) + {_DUPWIN} AS e
      FROM islands GROUP BY doc_id, island
    ), lens AS (
      SELECT doc_id, len(w) AS n_tokens FROM words
    )
    SELECT spans.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_dup_spans,
           CAST(SUM(e - s) AS BIGINT) AS dup_tokens,
           CAST(n_tokens AS BIGINT) AS n_tokens,
           round(CAST(SUM(e - s) AS DOUBLE) / n_tokens, 6) AS dup_frac
    FROM spans JOIN lens USING (doc_id)
    GROUP BY spans.doc_id, n_tokens
    """,
)
def q_repeated_substring_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    words = _words_df(spark, sf_dir)
    wins = (
        words.where(F.size("w") >= _DUPWIN)
        .select(
            "doc_id",
            F.posexplode(
                F.expr(
                    f"transform(sequence(1, size(w) - {_DUPWIN - 1}),"
                    f" i -> md5(array_join(slice(w, i, {_DUPWIN}), ' ')))"
                )
            ).alias("pos0", "h"),
        )
        .select("doc_id", (F.col("pos0") + 1).alias("pos"), "h")
        .localCheckpoint(eager=False)  # window table feeds dup-set AND hits
    )
    dup = (
        wins.groupBy("h")
        .agg(F.countDistinct("doc_id").alias("nd"))
        .where(F.col("nd") >= 2)
        .select("h")
    )
    hits = wins.join(dup, "h", "left_semi").select("doc_id", "pos")
    w_doc = Window.partitionBy("doc_id").orderBy("pos")
    flagged = hits.withColumn(
        "brk",
        F.when(F.col("pos") - F.lag("pos").over(w_doc) <= _DUPWIN, 0).otherwise(1),
    )
    islands = flagged.withColumn(
        "island",
        F.sum("brk").over(w_doc.rowsBetween(Window.unboundedPreceding, 0)),
    )
    spans = islands.groupBy("doc_id", "island").agg(
        F.min("pos").alias("s"), (F.max("pos") + _DUPWIN).alias("e")
    )
    lens = words.select("doc_id", F.size("w").alias("n_tokens"))
    return (
        spans.join(lens, "doc_id")
        .groupBy("doc_id", "n_tokens")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_dup_spans"),
            F.sum(F.col("e") - F.col("s")).cast("bigint").alias("dup_tokens"),
        )
        .select(
            "doc_id",
            "n_dup_spans",
            "dup_tokens",
            F.col("n_tokens").cast("bigint").alias("n_tokens"),
            F.round(
                F.col("dup_tokens").cast("double") / F.col("n_tokens"), 6
            ).alias("dup_frac"),
        )
    )


# ---------------------------------------------------------------------------
# Corpus datasheet: the per-source summary a training-data release
# ships (Gebru et al., "Datasheets for Datasets") — volume, language
# spread, token budget, exact-dup rate, and the majority language with
# a deterministic tie-break. One corpus pass for the per-doc facts;
# everything else aggregates per source (|sources| rows).
@_q(
    "corpus_datasheet",
    f"""
    WITH facts AS (
      SELECT source, lang,
             len({_SQL_WORDS}) AS n_tok,
             md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fp
      FROM documents
    ), per_src AS (
      SELECT source,
             COUNT(*) AS n_docs,
             COUNT(DISTINCT lang) AS n_langs,
             SUM(n_tok) AS total_tokens,
             COUNT(*) - COUNT(DISTINCT fp) AS n_exact_dups
      FROM facts GROUP BY source
    ), lc AS (
      SELECT source, lang, COUNT(*) AS c FROM facts GROUP BY source, lang
    ), toplang AS (
      SELECT lc.source, MIN(lc.lang) AS top_lang
      FROM lc JOIN (SELECT source, MAX(c) AS mx FROM lc GROUP BY source) m
        ON m.source = lc.source AND lc.c = m.mx
      GROUP BY lc.source
    )
    SELECT p.source, CAST(n_docs AS BIGINT) AS n_docs,
           CAST(n_langs AS BIGINT) AS n_langs,
           CAST(total_tokens AS BIGINT) AS total_tokens,
           round(CAST(total_tokens AS DOUBLE) / n_docs, 6) AS avg_tokens,
           CAST(n_exact_dups AS BIGINT) AS n_exact_dups,
           round(CAST(n_exact_dups AS DOUBLE) / n_docs, 6) AS dup_frac,
           top_lang
    FROM per_src p JOIN toplang USING (source)
    ORDER BY p.source
    """,
)
def q_corpus_datasheet(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents")
    facts = docs.select(
        "source",
        "lang",
        F.size(word_tokens(normalize_text(F.col("text")))).alias("n_tok"),
        F.md5(normalize_text(F.col("text"))).alias("fp"),
    ).localCheckpoint(eager=False)  # shared by rollup and lang-mode
    per_src = facts.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct("lang").alias("n_langs"),
        F.sum("n_tok").alias("total_tokens"),
        (F.count(F.lit(1)) - F.countDistinct("fp")).alias("n_exact_dups"),
    )
    lc = facts.groupBy("source", "lang").agg(F.count(F.lit(1)).alias("c"))
    mx = lc.groupBy("source").agg(F.max("c").alias("mx"))
    toplang = (
        lc.join(mx, "source")
        .where(F.col("c") == F.col("mx"))
        .groupBy("source")
        .agg(F.min("lang").alias("top_lang"))
    )
    return (
        per_src.join(toplang, "source")
        .select(
            "source",
            F.col("n_docs").cast("bigint").alias("n_docs"),
            F.col("n_langs").cast("bigint").alias("n_langs"),
            F.col("total_tokens").cast("bigint").alias("total_tokens"),
            F.round(
                F.col("total_tokens").cast("double") / F.col("n_docs"), 6
            ).alias("avg_tokens"),
            F.col("n_exact_dups").cast("bigint").alias("n_exact_dups"),
            F.round(
                F.col("n_exact_dups").cast("double") / F.col("n_docs"), 6
            ).alias("dup_frac"),
            "top_lang",
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# Deduped-corpus token retention by source — the "what did dedup cost
# each provider" report every training-data pipeline publishes next
# to its datasheet: exact dedup keeps the MIN doc_id per normalized-
# text md5 (the exact_dedup convention), and per source the report
# compares docs/tokens before vs after with the retention ratio.
# Plan: fingerprints shuffle as 16-byte md5 + BIGINT ids (never
# text); the keep set resolves in ONE groupBy(min); token counts are
# one projection — two shuffles total at any corpus size. The ratio
# divides exact BIGINTs (one double division, round 6).
@_q(
    "dedup_token_retention",
    f"""
    WITH d AS (
      SELECT doc_id, source,
             CAST(len({_SQL_WORDS}) AS BIGINT) AS n_tokens,
             md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fp
      FROM documents
    ),
    keep AS (SELECT MIN(doc_id) AS doc_id FROM d GROUP BY fp)
    SELECT d.source,
           COUNT(*) AS docs_before,
           COUNT(k.doc_id) AS docs_kept,
           CAST(SUM(d.n_tokens) AS BIGINT) AS tokens_before,
           CAST(COALESCE(SUM(d.n_tokens) FILTER (k.doc_id IS NOT NULL), 0)
                AS BIGINT) AS tokens_kept,
           round(CAST(COALESCE(SUM(d.n_tokens) FILTER (k.doc_id IS NOT NULL),
                               0) AS DOUBLE)
                 / SUM(d.n_tokens), 6) AS token_retention
    FROM d LEFT JOIN keep k ON k.doc_id = d.doc_id
    GROUP BY d.source ORDER BY d.source
    """,
)
def q_dedup_token_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.text import normalize_text, token_count

    docs = t(spark, sf_dir, "documents")
    d = docs.select(
        "doc_id",
        "source",
        token_count(normalize_text(F.col("text"))).cast("bigint").alias(
            "n_tokens"
        ),
        F.md5(normalize_text(F.col("text"))).alias("fp"),
    )
    keep = d.groupBy("fp").agg(F.min("doc_id").alias("k_doc_id"))
    j = d.join(keep, d["doc_id"] == keep["k_doc_id"], "left")
    kept_tokens = F.sum(
        F.when(F.col("k_doc_id").isNotNull(), F.col("n_tokens"))
    )
    return (
        j.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("docs_before"),
            F.count("k_doc_id").alias("docs_kept"),
            F.sum("n_tokens").cast("bigint").alias("tokens_before"),
            F.coalesce(kept_tokens, F.lit(0)).cast("bigint").alias(
                "tokens_kept"
            ),
            F.round(
                F.coalesce(kept_tokens, F.lit(0)).cast("double")
                / F.sum("n_tokens"),
                6,
            ).alias("token_retention"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# Exact-substring duplicate-span fraction (r13) — the per-document
# signal of Lee et al. 2022 ("Deduplicating Training Data Makes
# Language Models Better", exact-substring dedup): for every k-gram
# POSITION in a document, is that k-gram verbatim-shared with at
# least one OTHER document? Unlike shingle_containment_pairs (pairwise
# containment) or corpus_segment_dedup (keep-first cut), this scores
# each document by how much of its surface is corpus-duplicated — the
# quantity the exact-substring pass thresholds on. Positions (not
# distinct grams) are counted, so a doc repeating a shared gram is
# penalized per occurrence.
# 100 TB shape: one Exchange on the gram hash to count distinct docs
# per gram (map-side partial via the per-doc distinct), broadcast-free
# join back on the same key, then a per-doc aggregate. Never pairwise.
@_q(
    "duplicate_span_fraction",
    f"""
    WITH words AS (
      SELECT doc_id, {_SQL_WORDS} AS w FROM documents
    ),
    pos AS (
      SELECT doc_id, s.i AS pos,
             array_to_string(w[s.i:s.i+{_GRAM_N - 1}], ' ') AS gram
      FROM words, LATERAL unnest(generate_series(1, len(w) - {_GRAM_N - 1})) AS s(i)
      WHERE len(w) >= {_GRAM_N}
    ),
    gram_docs AS (
      SELECT gram, COUNT(DISTINCT doc_id) AS nd FROM pos GROUP BY gram
    ),
    scored AS (
      SELECT p.doc_id,
             COUNT(*) AS n_positions,
             SUM(CASE WHEN g.nd >= 2 THEN 1 ELSE 0 END) AS n_dup_positions
      FROM pos p JOIN gram_docs g USING (gram)
      GROUP BY p.doc_id
    )
    SELECT doc_id,
           CAST(n_positions AS BIGINT) AS n_positions,
           CAST(n_dup_positions AS BIGINT) AS n_dup_positions,
           round(CAST(n_dup_positions AS DOUBLE) / n_positions, 9)
             AS dup_fraction
    FROM scored
    ORDER BY doc_id
    """,
)
def q_duplicate_span_fraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.spread import spread_cpu

    words = spread_cpu(_words_df(spark, sf_dir).where(F.size("w") >= _GRAM_N))
    # pos feeds BOTH the gram-document counts and the per-doc scoring —
    # lazy-checkpoint so the tokenize + gram explode (CPU-dense, and
    # otherwise fused twice into the single-split scan) runs once
    pos = words.select(
        "doc_id",
        F.explode(
            F.expr(
                f"transform(sequence(1, size(w) - {_GRAM_N - 1}),"
                f" i -> array_join(slice(w, i, {_GRAM_N}), ' '))"
            )
        ).alias("gram"),
    ).localCheckpoint(eager=False)
    gram_docs = (
        pos.select("doc_id", "gram")
        .distinct()  # map-side distinct bounds the gram-key shuffle
        .groupBy("gram")
        .agg(F.count(F.lit(1)).alias("nd"))
    )
    scored = (
        pos.join(gram_docs, "gram")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_positions"),
            F.sum(F.when(F.col("nd") >= 2, 1).otherwise(0)).alias(
                "n_dup_positions"
            ),
        )
    )
    return scored.select(
        "doc_id",
        F.col("n_positions").cast("bigint").alias("n_positions"),
        F.col("n_dup_positions").cast("bigint").alias("n_dup_positions"),
        F.round(
            F.col("n_dup_positions").cast("double") / F.col("n_positions"), 9
        ).alias("dup_fraction"),
    ).orderBy("doc_id")


# ---------------------------------------------------------------------------
# Blocklist phrase filter — the safety/compliance pass every training
# corpus runs before release: count documents and occurrences of each
# banned multi-word phrase, as EXACT token-sequence matches (not
# substrings). The scale design is the positional-inverted-index
# phrase query (Lucene-style), not N substring scans: tokenize once
# to (doc, pos, token), broadcast-join the exploded phrase tokens on
# the TOKEN (each doc token meets only the phrase offsets sharing
# that word), align candidates on start = pos - offset, and a match
# is a (doc, phrase, start) group covering every offset. One scan of
# the corpus regardless of blocklist size; at 100 TB the phrase table
# stays broadcast up to millions of entries. Overlap-safe (counts
# occurrences a replace()-based count would miss).
_BLOCKLIST = (
    "table hash",
    "customer join",
    "slow key",
    "big order",
    "filter small table",
)


def _sql_blocklist() -> str:
    vals = ", ".join(f"({i}, '{p}')" for i, p in enumerate(_BLOCKLIST))
    return f"""
    WITH phrases(pid, phrase) AS (VALUES {vals}),
    ptoks AS (
      SELECT pid, phrase,
             unnest(string_split(phrase, ' ')) AS pw,
             generate_subscripts(string_split(phrase, ' '), 1) - 1 AS off,
             len(string_split(phrase, ' ')) AS plen
      FROM phrases
    ),
    toks AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS w,
             generate_subscripts(string_split(text, ' '), 1) AS pos
      FROM documents
    ),
    hits AS (
      SELECT t.doc_id, p.pid, p.phrase, t.pos - p.off AS start
      FROM toks t JOIN ptoks p ON p.pw = t.w
      GROUP BY t.doc_id, p.pid, p.phrase, t.pos - p.off, p.plen
      -- for fixed (doc, pid, start) each offset occurs at most once
      -- (pos = start + off), so plain COUNT equals COUNT(DISTINCT)
      HAVING COUNT(*) = p.plen
    )
    SELECT p.phrase,
           CAST(COALESCE(COUNT(h.start), 0) AS BIGINT) AS n_occurrences,
           CAST(COALESCE(COUNT(DISTINCT h.doc_id), 0) AS BIGINT) AS n_docs
    FROM phrases p LEFT JOIN hits h ON h.pid = p.pid
    GROUP BY p.phrase
    ORDER BY p.phrase
    """


@_q("blocklist_phrase_filter", _sql_blocklist())
def q_blocklist_phrase_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents")
    spark_ = spark
    phrases = spark_.createDataFrame(
        [(i, p) for i, p in enumerate(_BLOCKLIST)], ["pid", "phrase"]
    )
    ptoks = phrases.select(
        "pid",
        "phrase",
        F.size(F.split("phrase", " ")).cast("bigint").alias("plen"),
        F.posexplode(F.split("phrase", " ")).alias("off", "pw"),
    )
    toks = docs.select(
        "doc_id", F.posexplode(F.split("text", " ")).alias("pos0", "w")
    ).select("doc_id", (F.col("pos0") + 1).alias("pos"), "w")
    hits = (
        toks.join(F.broadcast(ptoks), F.col("pw") == F.col("w"))
        .groupBy(
            "doc_id", "pid", "phrase", (F.col("pos") - F.col("off")).alias("start"),
            "plen",
        )
        .agg(F.count(F.lit(1)).alias("noff"))
        .where(F.col("noff") == F.col("plen"))
    )
    return (
        phrases.join(
            hits.select("pid", "start", "doc_id"), "pid", "left"
        )
        .groupBy("phrase")
        .agg(
            F.count("start").cast("bigint").alias("n_occurrences"),
            F.countDistinct("doc_id").cast("bigint").alias("n_docs"),
        )
        .orderBy("phrase")
    )
