"""Text-analysis + dedup queries over `documents` (north-star
extension; SURVEY §7.5). Oracle SQL is generated from the same
constants as the Spark expressions so both sides stay in lock-step.

DuckDB note: its regexp_replace needs the 'g' flag to be global;
Spark's is global by default — every normalized-text oracle carries
the flag.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.text import (
    STOPWORDS,
    bpe_ish_token_count,
    quality_score,
    token_count,
)
from ..operators.dedup import exact_dedup, lsh_candidate_pairs
from ._util import t, registry

QUERIES, ORACLES, _q = registry()

# SQL fragments kept in lock-step with functions/text.py
_SQL_NORM = r"trim(regexp_replace(lower(text), '\s+', ' ', 'g'))"
_SQL_TOKENS = r"list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '')"
_SQL_SHINGLES = (
    f"CASE WHEN length({_SQL_NORM}) < 5 THEN [{_SQL_NORM}] "
    f"ELSE list_transform(generate_series(1, length({_SQL_NORM}) - 4), "
    f"i -> substring({_SQL_NORM}, i, 5)) END"
)


# ---------------------------------------------------------------------------
# Token counting: whitespace tokens + BPE-ish subword proxy.
@_q(
    "token_stats",
    f"""
    SELECT doc_id,
           CAST(len({_SQL_TOKENS}) AS INT) AS n_tokens,
           CAST(list_aggregate(list_transform({_SQL_TOKENS},
                w -> CAST(ceil(length(w) / 4.0) AS INT)), 'sum') AS INT) AS n_bpeish
    FROM documents
    """,
)
def q_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        token_count(F.col("text")).cast("int").alias("n_tokens"),
        bpe_ish_token_count(F.col("text")).cast("int").alias("n_bpeish"),
    )


# ---------------------------------------------------------------------------
# Exact dedup via md5 fingerprint of normalized text.
@_q(
    "exact_dedup",
    f"""
    SELECT md5({_SQL_NORM}) AS fingerprint,
           min(doc_id) AS keep_id,
           COUNT(*) AS dup_count
    FROM documents GROUP BY 1
    """,
)
def q_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return exact_dedup(t(spark, sf_dir, "documents"), "doc_id", "text")


# ---------------------------------------------------------------------------
# Document quality scoring (surface statistics, 4 equal-weight parts).
_SQL_QUALITY_STOP = " OR ".join(
    f"contains(' ' || lower(text) || ' ', ' {w} ')" for w in STOPWORDS[:20]
)
@_q(
    "quality_score",
    f"""
    SELECT doc_id, round((
        least(length(text) / 1000.0, 1.0)
      + CASE WHEN len({_SQL_TOKENS}) > 0
                  AND length(text) * 1.0 / len({_SQL_TOKENS}) BETWEEN 3.0 AND 12.0
             THEN 1.0 ELSE 0.0 END
      + CASE WHEN length(text) > 0
             THEN length(regexp_replace(text, '[^A-Za-z]', '', 'g')) * 1.0 / length(text)
             ELSE 0.0 END
      + CASE WHEN {_SQL_QUALITY_STOP} THEN 1.0 ELSE 0.0 END
    ) / 4.0, 6) AS quality
    FROM documents
    """,
)
def q_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents")
    return docs.select("doc_id", F.round(quality_score(F.col("text")), 6).alias("quality"))


# ---------------------------------------------------------------------------
# Stopword-rule language ID (the SQL-twin subset of the full heuristic)
# vs the stored label — confusion-matrix counts.
_LANG_RULES = [
    ("de", ["der", "die", "das", "und"]),
    ("fr", ["le", "la", "les", "est"]),
    ("es", ["el", "los", "las", "una"]),
]


def _sql_lang_case() -> str:
    clauses = []
    for lang, words in _LANG_RULES:
        cond = " OR ".join(
            f"contains(' ' || lower(text) || ' ', ' {w} ')" for w in words
        )
        clauses.append(f"WHEN {cond} THEN '{lang}'")
    return "CASE " + " ".join(clauses) + " ELSE 'en' END"


@_q(
    "lang_id_confusion",
    f"""
    SELECT lang, {_sql_lang_case()} AS predicted, COUNT(*) AS n
    FROM documents GROUP BY 1, 2
    """,
)
def q_lang_id_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents")
    padded = F.concat(F.lit(" "), F.lower(F.col("text")), F.lit(" "))
    pred = None
    for lang, words in _LANG_RULES:
        cond = F.lit(False)
        for w in words:
            cond = cond | padded.contains(f" {w} ")
        pred = F.when(cond, F.lit(lang)) if pred is None else pred.when(cond, F.lit(lang))
    pred = pred.otherwise(F.lit("en"))
    return docs.select("lang", pred.alias("predicted")).groupBy("lang", "predicted").agg(
        F.count(F.lit(1)).alias("n")
    )


# ---------------------------------------------------------------------------
# n-gram Jaccard near-dup check on blocked (adjacent-id, same-source)
# pairs — the exact-verification stage that follows LSH blocking.
@_q(
    "ngram_jaccard_pairs",
    f"""
    WITH sh AS MATERIALIZED (
      SELECT doc_id, source, list_distinct({_SQL_SHINGLES}) AS sh FROM documents
    )
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           round(CASE WHEN len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)) > 0
                 THEN len(list_intersect(a.sh, b.sh)) * 1.0
                      / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)))
                 ELSE 0.0 END, 6) AS jaccard
    FROM sh a JOIN sh b ON a.source = b.source AND b.doc_id = a.doc_id + 20
    """,
)
def q_ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.text import normalize_text, shingles_of_norm

    docs = t(spark, sf_dir, "documents").select("doc_id", "source", "text")
    # project the shingle set per doc BEFORE the pair join: shingling
    # runs once per document, not once per pair
    sh = docs.select(
        "doc_id", "source", normalize_text(F.col("text")).alias("_n")
    ).select(
        "doc_id",
        "source",
        F.array_distinct(shingles_of_norm(F.col("_n"))).alias("sh"),
    ).localCheckpoint()  # shingle once; both join sides read the table
    a = sh.select(
        F.col("doc_id").alias("id_a"), F.col("source").alias("src_a"), F.col("sh").alias("sh_a")
    )
    b = sh.select(
        F.col("doc_id").alias("id_b"), F.col("source").alias("src_b"), F.col("sh").alias("sh_b")
    )
    pairs = a.join(b, (a["src_a"] == b["src_b"]) & (b["id_b"] == a["id_a"] + 20))
    inter = F.size(F.array_intersect(F.col("sh_a"), F.col("sh_b")))
    union = F.size(F.col("sh_a")) + F.size(F.col("sh_b")) - inter
    jac = F.when(union > 0, inter.cast("double") / union.cast("double")).otherwise(F.lit(0.0))
    return pairs.select("id_a", "id_b", F.round(jac, 6).alias("jaccard"))


# ---------------------------------------------------------------------------
# MinHash + LSH candidate pairs (8 hashes, bands of 2) — the scalable
# near-dedup path. Oracle mirrors the identical md5-based hash family.
_NUM_HASHES = 8
_BAND_SIZE = 2


# word 3-shingles for MinHash (tokens of the normalized text)
_SQL_NORM_TOKENS = (
    r"list_filter(regexp_split_to_array(trim(regexp_replace(lower(text), '\s+', ' ', 'g')),"
    r" '\s+'), x -> x <> '')"
)
_SQL_WORD_SHINGLES = (
    f"list_transform(generate_series(1, greatest(len({_SQL_NORM_TOKENS}) - 2, 1)), "
    f"i -> array_to_string(list_slice({_SQL_NORM_TOKENS}, i, i + 2), ' '))"
)


def _sql_minhash_lsh(src: str = "documents") -> str:
    mh_cols = ", ".join(
        f"list_aggregate(list_transform(sh, s -> md5('{i}:' || s)), 'min') AS mh{i}"
        for i in range(_NUM_HASHES)
    )
    band_rows = " UNION ALL ".join(
        f"SELECT doc_id, {b} AS band_idx, "
        f"md5(mh{b * _BAND_SIZE} || '|' || mh{b * _BAND_SIZE + 1}) AS band_hash FROM mh"
        for b in range(_NUM_HASHES // _BAND_SIZE)
    )
    return f"""
    WITH sh AS MATERIALIZED (
      SELECT doc_id, {_SQL_WORD_SHINGLES} AS sh FROM {src}
    ),
    mh AS MATERIALIZED (SELECT doc_id, {mh_cols} FROM sh),
    bands AS MATERIALIZED ({band_rows})
    SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
    FROM bands a JOIN bands b
      ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash
     AND a.doc_id < b.doc_id
    """


@_q("minhash_lsh_pairs", _sql_minhash_lsh())
def q_minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents")
    return lsh_candidate_pairs(
        docs, "doc_id", "text", num_hashes=_NUM_HASHES, band_size=_BAND_SIZE
    )


# ---------------------------------------------------------------------------
# 16-bit SimHash signatures.
def _sql_simhash() -> str:
    def contrib(j: int) -> str:
        digit = f"substring(md5(tok), {j // 4 + 1}, 1)"
        val = f"(strpos('0123456789abcdef', {digit}) - 1)"
        bit = f"(({val} >> {j % 4}) & 1)"
        return f"CASE WHEN {bit} = 1 THEN 1 ELSE -1 END"

    bit_terms = " + ".join(
        f"CASE WHEN list_aggregate(list_transform(tokens, tok -> {contrib(j)}), 'sum') > 0 "
        f"THEN {1 << j} ELSE 0 END"
        for j in range(16)
    )
    norm_tokens = (
        r"list_filter(regexp_split_to_array(trim(regexp_replace(lower(text), '\s+', ' ', 'g')),"
        r" '\s+'), x -> x <> '')"
    )
    return f"""
    WITH tk AS (SELECT doc_id, {norm_tokens} AS tokens FROM documents)
    SELECT doc_id, CAST({bit_terms} AS INT) AS simhash FROM tk
    """


@_q("simhash_signatures", _sql_simhash())
def q_simhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import simhash_signatures

    docs = t(spark, sf_dir, "documents")
    return simhash_signatures(docs, "doc_id", "text")


# ---------------------------------------------------------------------------
# Rolling-hash document fingerprint: left-to-right polynomial hash
# (h = h*31 + code(char) mod 2^31) over the normalized text — the
# brief's "document fingerprinting (rolling hash)" in pure fold form,
# identical on both engines.
@_q(
    "rolling_fingerprint",
    f"""
    WITH norm AS (SELECT doc_id, {_SQL_NORM} AS n FROM documents)
    SELECT doc_id,
           CAST(list_aggregate(
             list_transform(generate_series(1, length(n)),
                            i -> CAST((ord(substring(n, i, 1)) % 65536) AS BIGINT)),
             'sum') AS BIGINT) AS char_checksum,
           CAST(list_reduce(
             list_prepend(CAST(0 AS BIGINT),
               list_transform(generate_series(1, length(n)),
                              i -> CAST((ord(substring(n, i, 1)) % 65536) AS BIGINT))),
             (h, c) -> (h * 31 + c) % 2147483647) AS BIGINT) AS rolling_hash
    FROM norm
    """,
)
def q_rolling_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.text import normalize_text

    docs = t(spark, sf_dir, "documents")
    normed = docs.select("doc_id", normalize_text(F.col("text")).alias("n"))
    codes = F.transform(
        F.sequence(F.lit(1), F.length("n")),
        lambda i: (F.ascii(F.col("n").substr(i, F.lit(1))) % 65536).cast("bigint"),
    )
    with_codes = normed.select("doc_id", codes.alias("codes"))
    checksum = F.aggregate(
        F.col("codes"), F.lit(0).cast("bigint"), lambda acc, c: acc + c
    )
    rolling = F.aggregate(
        F.col("codes"),
        F.lit(0).cast("bigint"),
        lambda h, c: (h * 31 + c) % F.lit(2147483647).cast("bigint"),
    )
    return with_codes.select(
        "doc_id",
        checksum.alias("char_checksum"),
        rolling.alias("rolling_hash"),
    )


# ---------------------------------------------------------------------------
# Surface-statistic ratios (brief: "length/punct/stopword ratios"):
# punctuation, whitespace, digit, and stopword-token ratios per doc.
_SQL_STOP20 = "', '".join(STOPWORDS[:20])
@_q(
    "text_ratios",
    f"""
    SELECT doc_id,
           round(length(regexp_replace(text, '[^.,;:!?''\"-]', '', 'g')) * 1.0
                 / greatest(length(text), 1), 6) AS punct_ratio,
           round(length(regexp_replace(text, '[^ \t]', '', 'g')) * 1.0
                 / greatest(length(text), 1), 6) AS space_ratio,
           round(length(regexp_replace(text, '[^0-9]', '', 'g')) * 1.0
                 / greatest(length(text), 1), 6) AS digit_ratio,
           round(len(list_filter({_SQL_TOKENS},
                     w -> list_contains(['{_SQL_STOP20}'], lower(w)))) * 1.0
                 / greatest(len({_SQL_TOKENS}), 1), 6) AS stopword_ratio
    FROM documents
    """,
)
def q_text_ratios(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.text import STOPWORDS as _SW
    from ..functions.text import word_tokens

    docs = t(spark, sf_dir, "documents")
    n = F.greatest(F.length("text"), F.lit(1))

    def char_ratio(keep_pattern: str):
        return F.round(
            F.length(F.regexp_replace(F.col("text"), keep_pattern, "")) / n, 6
        )

    toks = word_tokens(F.col("text"))
    stop_arr = F.array(*[F.lit(w) for w in _SW[:20]])
    n_stop = F.size(
        F.filter(toks, lambda w: F.array_contains(stop_arr, F.lower(w)))
    )
    return docs.select(
        "doc_id",
        char_ratio("[^.,;:!?'\"-]").alias("punct_ratio"),
        char_ratio("[^ \t]").alias("space_ratio"),
        char_ratio("[^0-9]").alias("digit_ratio"),
        F.round(n_stop / F.greatest(F.size(toks), F.lit(1)), 6).alias("stopword_ratio"),
    )


# ---------------------------------------------------------------------------
# Duplicate-cluster resolution: connected components over the MinHash
# LSH candidate-pair graph. Spark side is the iterative min-label
# propagation operator (one shuffle per iteration, converges in
# O(component diameter) ≈ 2-4 rounds for near-clique dup clusters);
# the oracle is DuckDB's WITH RECURSIVE transitive closure over the
# SAME pair SQL — an end-to-end check that an iterative distributed
# algorithm reaches the exact relational fixpoint.
def _sql_dup_clusters() -> str:
    pairs = _sql_minhash_lsh()
    # MATERIALIZED: without it DuckDB re-evaluates the MinHash pipeline
    # inside every recursion step (measured 96s -> 18s at sf0.1).
    return f"""
    WITH RECURSIVE pairs AS MATERIALIZED ({pairs}),
    edges AS (SELECT id_a AS s, id_b AS d FROM pairs
              UNION ALL SELECT id_b, id_a FROM pairs),
    reach(node, lbl) AS (
      SELECT DISTINCT s, s FROM edges
      UNION
      SELECT e.d, r.lbl FROM reach r JOIN edges e ON e.s = r.node
      WHERE r.lbl < e.d
    ),
    labels AS (SELECT node AS doc_id, MIN(lbl) AS cluster_id
               FROM reach GROUP BY node)
    SELECT doc_id, cluster_id,
           CAST(COUNT(*) OVER (PARTITION BY cluster_id) AS BIGINT) AS cluster_size
    FROM labels
    """


@_q("dup_cluster_components", _sql_dup_clusters())
def q_dup_cluster_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from ..operators.dedup import connected_components

    docs = t(spark, sf_dir, "documents")
    pairs = lsh_candidate_pairs(
        docs, "doc_id", "text", num_hashes=_NUM_HASHES, band_size=_BAND_SIZE
    )
    comp = connected_components(pairs, "id_a", "id_b")
    w = Window.partitionBy("cluster_id")
    return comp.select(
        F.col("node").alias("doc_id"),
        "cluster_id",
        F.count(F.lit(1)).over(w).alias("cluster_size"),
    )


@_q("dup_cluster_components_star", _sql_dup_clusters())
def q_dup_cluster_components_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same duplicate clusters, resolved by the large-star/small-star
    contraction (`operators/dedup.connected_components_star`) — the
    O(log n)-round adversarial-graph path, hash-checked against the
    SAME recursive-CTE oracle as the min-label variant: both
    distributed algorithms must reach the identical relational
    fixpoint."""
    from pyspark.sql import Window

    from ..operators.dedup import connected_components_star

    docs = t(spark, sf_dir, "documents")
    pairs = lsh_candidate_pairs(
        docs, "doc_id", "text", num_hashes=_NUM_HASHES, band_size=_BAND_SIZE
    )
    comp = connected_components_star(pairs, "id_a", "id_b")
    w = Window.partitionBy("cluster_id")
    return comp.select(
        F.col("node").alias("doc_id"),
        "cluster_id",
        F.count(F.lit(1)).over(w).alias("cluster_size"),
    )


# ---------------------------------------------------------------------------
# End-to-end LLM training-corpus cleaning (the north-star pipeline as
# ONE dataflow): quality filter → exact dedup (keep min id per
# fingerprint) → MinHash-LSH near-dedup over the survivors (drop the
# larger id of every candidate pair — the standard "keep first"
# policy) → per-language corpus accounting. Every stage reuses the
# individually-oracle-verified operator; the composition is verified
# end-to-end by the chained SQL twin. At 100 TB: quality + fingerprint
# are one scan, near-dedup shuffles only band hashes of survivors,
# and the anti join's right side (pair losers) is tiny.
def _sql_clean_corpus() -> str:
    pairs = _sql_minhash_lsh("surv")
    return f"""
    WITH scored AS MATERIALIZED (
      SELECT doc_id, lang, text, n_chars, (
        least(length(text) / 1000.0, 1.0)
      + CASE WHEN len({_SQL_TOKENS}) > 0
                  AND length(text) * 1.0 / len({_SQL_TOKENS}) BETWEEN 3.0 AND 12.0
             THEN 1.0 ELSE 0.0 END
      + CASE WHEN length(text) > 0
             THEN length(regexp_replace(text, '[^A-Za-z]', '', 'g')) * 1.0 / length(text)
             ELSE 0.0 END
      + CASE WHEN {_SQL_QUALITY_STOP} THEN 1.0 ELSE 0.0 END
      ) / 4.0 AS quality
      FROM documents
    ),
    good AS MATERIALIZED (SELECT * FROM scored WHERE quality >= 0.5),
    keepers AS (SELECT min(doc_id) AS doc_id FROM good GROUP BY md5({_SQL_NORM})),
    surv AS MATERIALIZED (SELECT g.* FROM good g JOIN keepers k ON g.doc_id = k.doc_id),
    pairs AS MATERIALIZED ({pairs}),
    clean AS (SELECT s.* FROM surv s
              WHERE s.doc_id NOT IN (SELECT id_b FROM pairs))
    SELECT lang,
           COUNT(*) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars,
           CAST(SUM(len({_SQL_TOKENS})) AS BIGINT) AS total_tokens
    FROM clean GROUP BY lang
    """


@_q("clean_corpus_pipeline", _sql_clean_corpus())
def q_clean_corpus_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents")
    # materialize each stage product once: good feeds the fingerprint
    # agg AND the survivor join, surv feeds LSH banding AND the final
    # accounting — without the barriers each branch re-runs the
    # quality-regex scan (~25% of wall at sf0.1). The 100 TB shape is
    # the same: a corpus pipeline persists its survivor set between
    # stages anyway (that is what the reference's staged scripts do),
    # trading one materialization for three re-scans of the text.
    good = docs.where(quality_score(F.col("text")) >= 0.5).localCheckpoint()
    fp = exact_dedup(good, "doc_id", "text").select(
        F.col("keep_id").alias("doc_id")
    )
    surv = good.join(fp, "doc_id").localCheckpoint()
    losers = lsh_candidate_pairs(
        surv, "doc_id", "text", num_hashes=_NUM_HASHES, band_size=_BAND_SIZE
    ).select(F.col("id_b").alias("doc_id")).distinct()
    clean = surv.join(losers, "doc_id", "left_anti")
    return clean.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
        F.sum(token_count(F.col("text"))).cast("long").alias("total_tokens"),
    )


# ---------------------------------------------------------------------------
# Character-entropy quality metric — Shannon entropy of the per-doc
# character distribution, the classic cheap detector for degenerate
# training text (repeated-char spam scores near 0 bits, natural prose
# ~4 bits/char). Shape: explode to (doc, char) pairs, two chained
# aggregations on the same doc key (the second rides the first's
# partitioning), entropy as an exact -Σ (c/n)·log2(c/n) fold. log2 is
# correctly-rounded in both engines for identical doubles; round(6)
# absorbs nothing but formatting.
@_q(
    "char_entropy_quality",
    """
    WITH chars AS (
      SELECT doc_id, unnest(string_split(text, '')) AS ch
      FROM documents
    ),
    counts AS (
      SELECT doc_id, ch, CAST(COUNT(*) AS DOUBLE) AS c
      FROM chars GROUP BY doc_id, ch
    ),
    tot AS (
      SELECT doc_id, SUM(c) AS n, COUNT(*) AS distinct_chars
      FROM counts GROUP BY doc_id
    )
    SELECT t.doc_id, CAST(t.n AS BIGINT) AS n_chars,
           CAST(t.distinct_chars AS BIGINT) AS distinct_chars,
           round(-SUM((k.c / t.n) * log2(k.c / t.n)), 6) AS entropy_bits
    FROM counts k JOIN tot t ON t.doc_id = k.doc_id
    GROUP BY t.doc_id, t.n, t.distinct_chars
    """,
)
def q_char_entropy_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    docs = t(spark, sf_dir, "documents")
    chars = docs.select(
        "doc_id", F.explode(F.split(F.col("text"), "")).alias("ch")
    )
    counts = chars.groupBy("doc_id", "ch").agg(
        F.count(F.lit(1)).cast("double").alias("c")
    )
    w = Window.partitionBy("doc_id")
    p = F.col("c") / F.sum("c").over(w)
    ent = counts.withColumn("_term", p * F.log2(p))
    return ent.groupBy("doc_id").agg(
        F.sum("c").cast("bigint").alias("n_chars"),
        F.count(F.lit(1)).alias("distinct_chars"),
        F.round(-F.sum("_term"), 6).alias("entropy_bits"),
    )


# ---------------------------------------------------------------------------
# Robust outlier detection via MAD (median absolute deviation) — the
# quality-filtering primitive that survives the heavy-tailed length
# distributions real corpora have (mean/stddev z-scores are dragged by
# the very outliers they should flag). Two exact grouped medians (the
# second over |x - median|), then a modified z-score filter at 3.5
# (the Iglewicz-Hoaglin convention). Both medians are the same grouped
# percentile machinery as A1 — at 100 TB the approx knob applies.
#
# The fixture corpus has near-uniform lengths (max |mod_z| ≈ 1.8, so
# a 3.5 filter can never fire on it); to prove the filter actually
# fires, a deterministic ~1% slice (doc_id % 101 == 0) is "corrupted"
# to 25× its length — simulating the runaway-concatenation/boilerplate
# docs MAD filtering exists to catch. Both engines apply the identical
# corruption, so the check is still exact.
@_q(
    "mad_outlier_docs",
    """
    WITH corpus AS (
      SELECT lang, doc_id,
             CASE WHEN doc_id % 101 = 0
                  THEN CAST(length(text) AS DOUBLE) * 25
                  ELSE CAST(length(text) AS DOUBLE) END AS len
      FROM documents
    ),
    m AS (
      SELECT lang, median(len) AS med FROM corpus GROUP BY lang
    ),
    dev AS (
      SELECT c.lang, c.doc_id, c.len, m.med, abs(c.len - m.med) AS adev
      FROM corpus c JOIN m ON m.lang = c.lang
    ),
    mad AS (
      SELECT lang, median(adev) AS mad FROM dev GROUP BY lang
    )
    SELECT dev.lang, dev.doc_id, dev.len,
           round(0.6745 * (dev.len - dev.med) / mad.mad, 6) AS mod_z
    FROM dev JOIN mad ON mad.lang = dev.lang
    WHERE mad.mad > 0
      AND abs(0.6745 * (dev.len - dev.med) / mad.mad) > 3.5
    """,
)
def q_mad_outlier_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents")
    lens = docs.select(
        "lang",
        "doc_id",
        F.when(F.col("doc_id") % 101 == 0, F.length("text").cast("double") * 25)
        .otherwise(F.length("text").cast("double"))
        .alias("len"),
    )
    med = lens.groupBy(F.col("lang").alias("mlang")).agg(
        F.median("len").alias("med")
    )
    dev = lens.join(med, F.col("lang") == F.col("mlang")).select(
        "lang", "doc_id", "len", "med", F.abs(F.col("len") - F.col("med")).alias("adev")
    )
    mad = dev.groupBy(F.col("lang").alias("mdlang")).agg(
        F.median("adev").alias("mad")
    )
    z = F.lit(0.6745) * (F.col("len") - F.col("med")) / F.col("mad")
    return (
        dev.join(mad, F.col("lang") == F.col("mdlang"))
        .where((F.col("mad") > 0) & (F.abs(z) > 3.5))
        .select("lang", "doc_id", "len", F.round(z, 6).alias("mod_z"))
    )


# ---------------------------------------------------------------------------
# Vocabulary induction: corpus-wide top-k tokens with coverage — the
# first step of building a tokenizer vocab. Explode → count (map-side
# combinable) → TakeOrdered with deterministic (count desc, token asc)
# ties. Distinct from tfidf_topk, which ranks per document.
@_q(
    "vocab_topk",
    """
    WITH toks AS (
      SELECT unnest(string_split_regex(lower(text), '[^a-z0-9]+')) AS tok
      FROM documents
    ),
    counts AS (
      SELECT tok, COUNT(*) AS n FROM toks WHERE tok <> '' GROUP BY tok
    )
    SELECT tok, n,
           round(CAST(n AS DOUBLE)
                 / (SELECT CAST(SUM(n) AS DOUBLE) FROM counts), 6) AS frac
    FROM counts
    ORDER BY n DESC, tok LIMIT 50
    """,
)
def q_vocab_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents")
    toks = docs.select(
        F.explode(F.split(F.lower(F.col("text")), "[^a-z0-9]+")).alias("tok")
    ).where(F.col("tok") != "")
    counts = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("n"))
    total = counts.agg(F.sum("n").cast("double").alias("_tot"))
    return (
        counts.join(F.broadcast(total))
        .select(
            "tok",
            "n",
            F.round(F.col("n").cast("double") / F.col("_tot"), 6).alias("frac"),
        )
        .orderBy(F.desc("n"), F.asc("tok"))
        .limit(50)
    )


# ---------------------------------------------------------------------------
# Blocked fuzzy matching — entity resolution's core join: candidate
# pairs from cheap blocking keys (first character + length band), the
# expensive edit distance only on candidates. Never names × names: the
# block key is the join key, and the length-band conjunct prunes
# within the block. levenshtein is the standard DP edit distance in
# both engines.
@_q(
    "fuzzy_name_match",
    """
    WITH n AS (SELECT DISTINCT p_name FROM part)
    SELECT a.p_name AS name_a, b.p_name AS name_b,
           CAST(levenshtein(a.p_name, b.p_name) AS BIGINT) AS edit_dist
    FROM n a JOIN n b
      ON substring(a.p_name, 1, 1) = substring(b.p_name, 1, 1)
     AND abs(length(a.p_name) - length(b.p_name)) <= 2
     AND a.p_name < b.p_name
    WHERE levenshtein(a.p_name, b.p_name) <= 3
    """,
)
def q_fuzzy_name_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Composite blocking key (first char, length band): first-char
    # blocks alone skew badly on real name distributions (~26 buckets,
    # Zipfian). The band is REPLICATED — each name emits the bands of
    # len and len-2 (≤2 distinct keys at width 4) so any pair within
    # the |Δlen| <= 2 contract shares at least one band: for
    # len_a <= len_b <= len_a+2, floor(len_a/4) lies in
    # [floor((len_b-2)/4), floor(len_b/4)]. The oracle intentionally
    # keeps the UNBANDED form — the hash match proves the banded
    # blocking drops no pair. Candidate-count bound:
    # tests/test_operators.py::test_fuzzy_banding_shrinks_blocks.
    bands = fuzzy_name_bands(t(spark, sf_dir, "part"))
    a = bands.select(F.col("p_name").alias("name_a"), "c1", "band")
    b = bands.select(F.col("p_name").alias("name_b"), "c1", "band")
    cand = (
        a.join(b, ["c1", "band"])
        .where(
            (F.col("name_a") < F.col("name_b"))
            & (F.abs(F.length("name_a") - F.length("name_b")) <= 2)
        )
        .select("name_a", "name_b")
        .distinct()  # a pair can share two bands
    )
    dist = F.levenshtein("name_a", "name_b")
    return cand.where(dist <= 3).select(
        "name_a", "name_b", dist.cast("bigint").alias("edit_dist")
    )


def fuzzy_name_bands(part: DataFrame, width: int = 4) -> DataFrame:
    """Blocking-key expansion for fuzzy_name_match: one row per
    (distinct name, first char, replicated length band)."""
    names = part.select("p_name").distinct()
    return names.select(
        "p_name",
        F.substring("p_name", 1, 1).alias("c1"),
        F.explode(
            F.array_distinct(
                F.array(
                    F.floor((F.length("p_name") - 2) / width).cast("int"),
                    F.floor(F.length("p_name") / width).cast("int"),
                )
            )
        ).alias("band"),
    )


# ---------------------------------------------------------------------------
# Inverted-index conjunctive search: the search-engine core loop as a
# relational plan. Postings = (term, doc, tf); an AND-of-terms query is
# a semi-join against the posting lists of the query terms only — the
# term filter lands in the parquet scan's generated predicate, so at
# 100 TB the index build shuffles |postings of matched terms|, never
# the corpus. Ranking is tf-idf with the per-term products summed in a
# FIXED expression order (t1 + t2 + t3) so the one transcendental (ln)
# accumulates identically in both engines; round(...,6) is the usual
# last-ulp seam.
_SEARCH_TERMS = ("vector", "hash", "window")  # conjunctive AND query


def _sql_inverted_search() -> str:
    terms = ", ".join(f"'{x}'" for x in _SEARCH_TERMS)
    score = " + ".join(
        f"tf_{x} * ln((SELECT n FROM total) / CAST(df_{x} AS DOUBLE))"
        for x in _SEARCH_TERMS
    )
    tf_cols = ", ".join(
        f"SUM(CASE WHEN tok = '{x}' THEN 1 ELSE 0 END) AS tf_{x}"
        for x in _SEARCH_TERMS
    )
    df_cols = ", ".join(
        f"COUNT(DISTINCT CASE WHEN tok = '{x}' THEN doc_id END) AS df_{x}"
        for x in _SEARCH_TERMS
    )
    conj = " AND ".join(f"tf_{x} > 0" for x in _SEARCH_TERMS)
    return f"""
    WITH toks AS MATERIALIZED (
      SELECT doc_id,
             unnest(string_split_regex(lower(text), '[^a-z0-9]+')) AS tok
      FROM documents
    ), hits AS MATERIALIZED (
      SELECT doc_id, tok FROM toks WHERE tok IN ({terms})
    ),
    total AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM documents),
    dfs AS (SELECT {df_cols} FROM hits),
    tfs AS (SELECT doc_id, {tf_cols} FROM hits GROUP BY doc_id)
    SELECT doc_id, round({score}, 6) AS score
    FROM tfs, dfs
    WHERE {conj}
    ORDER BY score DESC, doc_id LIMIT 20
    """


@_q("inverted_index_search", _sql_inverted_search())
def q_inverted_index_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents")
    hits = docs.select(
        "doc_id",
        F.explode(F.split(F.lower(F.col("text")), "[^a-z0-9]+")).alias("tok"),
    ).where(F.col("tok").isin(*_SEARCH_TERMS))
    tfs = hits.groupBy("doc_id").agg(
        *[
            F.sum(F.when(F.col("tok") == x, 1).otherwise(0)).alias(f"tf_{x}")
            for x in _SEARCH_TERMS
        ]
    )
    dfs = hits.agg(
        *[
            F.countDistinct(
                F.when(F.col("tok") == x, F.col("doc_id"))
            ).alias(f"df_{x}")
            for x in _SEARCH_TERMS
        ]
    )
    total = docs.agg(F.count(F.lit(1)).cast("double").alias("n"))
    score = None
    for x in _SEARCH_TERMS:
        term = F.col(f"tf_{x}") * F.log(F.col("n") / F.col(f"df_{x}").cast("double"))
        score = term if score is None else score + term
    conj = None
    for x in _SEARCH_TERMS:
        c = F.col(f"tf_{x}") > 0
        conj = c if conj is None else conj & c
    return (
        tfs.join(F.broadcast(dfs))
        .join(F.broadcast(total))
        .where(conj)
        .select("doc_id", F.round(score, 6).alias("score"))
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(20)
    )


# ---------------------------------------------------------------------------
# Sorted-neighborhood ER blocking (Hernandez-Stolfo): sort the
# distinct names once, slide a window of W successors over the sorted
# order, and run the expensive edit distance only on those pairs.
# Complementary to fuzzy_name_match's key blocking: sorted
# neighborhoods catch prefix-similar variants regardless of length
# band, candidate count is EXACTLY n*W by construction (no skew —
# the property key blocking can't give), and the sort is Spark's
# distributed sort. Window leads keep everything in one pass; at
# 100 TB the global sort is the cost, which is what multi-pass SNM
# with rotated sort keys amortizes (documented, single key here).
_SNM_WINDOW = 3
_SNM_MAXDIST = 3


def _sql_snm() -> str:
    leads = ", ".join(
        f"lead(p_name, {k}) OVER (ORDER BY p_name) AS nb{k}"
        for k in range(1, _SNM_WINDOW + 1)
    )
    arms = " UNION ALL ".join(
        f"SELECT p_name AS name_a, nb{k} AS name_b FROM s WHERE nb{k} IS NOT NULL"
        for k in range(1, _SNM_WINDOW + 1)
    )
    return f"""
    WITH n AS (SELECT DISTINCT p_name FROM part),
    s AS (SELECT p_name, {leads} FROM n),
    cand AS ({arms})
    SELECT name_a, name_b,
           CAST(levenshtein(name_a, name_b) AS BIGINT) AS edit_dist
    FROM cand
    WHERE levenshtein(name_a, name_b) <= {_SNM_MAXDIST}
    """


@_q("sorted_neighborhood_pairs", _sql_snm())
def q_sorted_neighborhood_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # sorted-neighborhood blocking NEEDS the global sort order, but not
    # a global window: assign each distinct name its global rank via
    # the distributed prefix scan, then "neighbor within W positions"
    # becomes a rank-distance EQUI-join (explode k=1..W, join on
    # rank+k) — balanced shuffle on the dense integer rank, no
    # single-partition lead() over the name universe (round-7)
    from ..operators.quantiles import with_global_rank

    names = t(spark, sf_dir, "part").select("p_name").distinct()
    ranked = with_global_rank(names, ["p_name"], out_col="r").localCheckpoint()
    a = ranked.select(
        F.col("p_name").alias("name_a"),
        "r",
        F.explode(
            F.array(*[F.lit(k) for k in range(1, _SNM_WINDOW + 1)])
        ).alias("_k"),
    ).select("name_a", (F.col("r") + F.col("_k")).alias("rb"))
    b = ranked.select(F.col("p_name").alias("name_b"), F.col("r").alias("rb"))
    cand = a.join(b, "rb")
    dist = F.levenshtein("name_a", "name_b")
    return cand.where(dist <= _SNM_MAXDIST).select(
        "name_a", "name_b", dist.cast("bigint").alias("edit_dist")
    )


# ---------------------------------------------------------------------------
# Zipf fit: OLS of ln(frequency) on ln(rank) over the top-K vocabulary
# — the "is this corpus naturally distributed" check (natural text
# slopes near -1; synthetic/templated corpora flatten). The corpus-
# scale step is the token count; the regression runs on K rows. All
# four ln-sums are ORDERED folds by rank (the ANOVA seam), so the
# float accumulation is pinned cross-engine.
_ZIPF_TOP = 200


@_q(
    "zipf_fit_vocab",
    f"""
    WITH counts AS (
      SELECT tok, COUNT(*) AS n FROM (
        SELECT unnest(string_split_regex(lower(text), '[^a-z0-9]+')) AS tok
        FROM documents
      ) WHERE tok <> '' GROUP BY tok
    ), ranked AS (
      SELECT ln(CAST(row_number() OVER (ORDER BY n DESC, tok) AS DOUBLE)) AS x,
             ln(CAST(n AS DOUBLE)) AS y,
             row_number() OVER (ORDER BY n DESC, tok) AS r
      FROM counts
      ORDER BY n DESC, tok LIMIT {_ZIPF_TOP}
    ), s AS (
      SELECT COUNT(*) AS k,
             SUM(x ORDER BY r) AS sx, SUM(y ORDER BY r) AS sy,
             SUM(x * x ORDER BY r) AS sxx, SUM(x * y ORDER BY r) AS sxy
      FROM ranked
    )
    SELECT CAST(k AS BIGINT) AS n_terms,
           round((k * sxy - sx * sy) / (k * sxx - sx * sx), 6) AS zipf_slope,
           round((sy - (k * sxy - sx * sy) / (k * sxx - sx * sx) * sx) / k, 6)
             AS intercept
    FROM s
    """,
)
def q_zipf_fit_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents")
    counts = (
        docs.select(
            F.explode(F.split(F.lower(F.col("text")), "[^a-z0-9]+")).alias("tok")
        )
        .where(F.col("tok") != "")
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    from pyspark.sql import Window

    r = F.row_number().over(Window.orderBy(F.desc("n"), F.asc("tok")))
    ranked = (
        counts.withColumn("r", r)
        .where(F.col("r") <= _ZIPF_TOP)
        .select(
            "r",
            F.log(F.col("r").cast("double")).alias("x"),
            F.log(F.col("n").cast("double")).alias("y"),
        )
    )
    s = ranked.agg(
        F.count(F.lit(1)).alias("k"),
        F.expr(
            "aggregate(array_sort(collect_list(struct(r, x))),"
            " cast(0.0 as double), (acc, t) -> acc + t.x)"
        ).alias("sx"),
        F.expr(
            "aggregate(array_sort(collect_list(struct(r, y))),"
            " cast(0.0 as double), (acc, t) -> acc + t.y)"
        ).alias("sy"),
        F.expr(
            "aggregate(array_sort(collect_list(struct(r, x))),"
            " cast(0.0 as double), (acc, t) -> acc + t.x * t.x)"
        ).alias("sxx"),
        F.expr(
            "aggregate(array_sort(collect_list(struct(r, x, y))),"
            " cast(0.0 as double), (acc, t) -> acc + t.x * t.y)"
        ).alias("sxy"),
    )
    k = F.col("k").cast("double")
    slope = (k * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        k * F.col("sxx") - F.col("sx") * F.col("sx")
    )
    return s.select(
        F.col("k").cast("bigint").alias("n_terms"),
        F.round(slope, 6).alias("zipf_slope"),
        F.round((F.col("sy") - slope * F.col("sx")) / k, 6).alias("intercept"),
    )


# ---------------------------------------------------------------------------
# Dup-cluster size distribution: the dedup REPORT — how many clusters
# of each size the near-dup graph contains (the histogram a curation
# run prints before deciding the keep policy; the long tail of
# singletons is implicit, pairs+ shown here). Reuses the hash-proven
# CC machinery; the extra layer is two tiny aggregations. Also emits
# docs_removable = Σ (size-1) per size class — the dedup yield.
@_q(
    "dup_cluster_size_distribution",
    f"""
    SELECT cluster_size,
           CAST(COUNT(DISTINCT cluster_id) AS BIGINT) AS n_clusters,
           CAST(COUNT(DISTINCT cluster_id) * (cluster_size - 1) AS BIGINT)
             AS docs_removable
    FROM ({{base}}) sub
    GROUP BY cluster_size ORDER BY cluster_size
    """.format(base=_sql_dup_clusters()),
)
def q_dup_cluster_size_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import connected_components

    docs = t(spark, sf_dir, "documents")
    pairs = lsh_candidate_pairs(
        docs, "doc_id", "text", num_hashes=_NUM_HASHES, band_size=_BAND_SIZE
    )
    comp = connected_components(pairs, "id_a", "id_b")
    sizes = comp.groupBy("cluster_id").agg(
        F.count(F.lit(1)).alias("cluster_size")
    )
    return (
        sizes.groupBy("cluster_size")
        .agg(F.countDistinct("cluster_id").alias("n_clusters"))
        .select(
            F.col("cluster_size").cast("bigint").alias("cluster_size"),
            F.col("n_clusters").cast("bigint").alias("n_clusters"),
            (F.col("n_clusters") * (F.col("cluster_size") - 1))
            .cast("bigint")
            .alias("docs_removable"),
        )
        .orderBy("cluster_size")
    )


# ---------------------------------------------------------------------------
# BM25 ranking (Robertson-Sparck Jones; the Lucene-form IDF) — the
# retrieval scorer the tf-idf queries graduate to. Disjunctive query:
# any doc matching >= 1 term scores. Plan shape mirrors
# inverted_index_search: the term filter reaches the parquet scan, so
# only the query terms' postings shuffle; document length (dl) is one
# corpus-pass aggregate whose (doc, dl) table joins the matched docs
# only, and avgdl/df are broadcast scalars. Per-term scores sum in a
# FIXED expression order (t1 + t2 + t3) — the transcendental (ln) and
# the dl/avgdl division are the only float ops, identical both
# engines; round(...,6) is the usual last-ulp seam.
_BM25_TERMS = ("sort", "batch", "vector")
_BM25_K1 = 1.2
_BM25_B = 0.75


def _sql_bm25() -> str:
    terms = ", ".join(f"'{x}'" for x in _BM25_TERMS)
    tf_cols = ", ".join(
        f"SUM(CASE WHEN tok = '{x}' THEN 1 ELSE 0 END) AS tf_{x}"
        for x in _BM25_TERMS
    )
    df_cols = ", ".join(
        f"COUNT(DISTINCT CASE WHEN tok = '{x}' THEN doc_id END) AS df_{x}"
        for x in _BM25_TERMS
    )
    score = " + ".join(
        f"ln(1.0 + ((SELECT n FROM total) - df_{x} + 0.5) / (df_{x} + 0.5))"
        f" * (tf_{x} * {_BM25_K1 + 1.0})"
        f" / (tf_{x} + {_BM25_K1} * (1.0 - {_BM25_B} + {_BM25_B} * dl"
        f" / (SELECT avgdl FROM lens)))"
        for x in _BM25_TERMS
    )
    return f"""
    WITH toks AS MATERIALIZED (
      SELECT doc_id,
             unnest(string_split_regex(lower(text), '[^a-z0-9]+')) AS tok
      FROM documents
    ), nonempty AS MATERIALIZED (
      SELECT doc_id, tok FROM toks WHERE tok <> ''
    ),
    dls AS (SELECT doc_id, COUNT(*) AS dl FROM nonempty GROUP BY doc_id),
    lens AS (SELECT SUM(dl) / CAST(COUNT(*) AS DOUBLE) AS avgdl FROM dls),
    total AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM documents),
    hits AS (SELECT doc_id, tok FROM nonempty WHERE tok IN ({terms})),
    dfs AS (SELECT {df_cols} FROM hits),
    tfs AS (SELECT doc_id, {tf_cols} FROM hits GROUP BY doc_id)
    SELECT tfs.doc_id, round({score}, 6) AS bm25
    FROM tfs JOIN dls USING (doc_id), dfs
    ORDER BY bm25 DESC, doc_id LIMIT 20
    """


@_q("bm25_topk", _sql_bm25())
def q_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        F.explode(F.split(F.lower(F.col("text")), "[^a-z0-9]+")).alias("tok"),
    ).where(F.col("tok") != "")
    dls = toks.groupBy("doc_id").agg(F.count(F.lit(1)).alias("dl"))
    lens = dls.agg(
        (F.sum("dl") / F.count(F.lit(1)).cast("double")).alias("avgdl")
    )
    total = docs.agg(F.count(F.lit(1)).cast("double").alias("n"))
    hits = toks.where(F.col("tok").isin(*_BM25_TERMS))
    tfs = hits.groupBy("doc_id").agg(
        *[
            F.sum(F.when(F.col("tok") == x, 1).otherwise(0)).alias(f"tf_{x}")
            for x in _BM25_TERMS
        ]
    )
    dfs = hits.agg(
        *[
            F.countDistinct(F.when(F.col("tok") == x, F.col("doc_id"))).alias(
                f"df_{x}"
            )
            for x in _BM25_TERMS
        ]
    )
    score = None
    for x in _BM25_TERMS:
        idf = F.log(
            F.lit(1.0)
            + (F.col("n") - F.col(f"df_{x}") + 0.5) / (F.col(f"df_{x}") + 0.5)
        )
        term = (
            idf
            * (F.col(f"tf_{x}") * F.lit(_BM25_K1 + 1.0))
            / (
                F.col(f"tf_{x}")
                + F.lit(_BM25_K1)
                * (
                    F.lit(1.0 - _BM25_B)
                    + F.lit(_BM25_B) * F.col("dl") / F.col("avgdl")
                )
            )
        )
        score = term if score is None else score + term
    return (
        tfs.join(dls, "doc_id")
        .join(F.broadcast(dfs))
        .join(F.broadcast(lens))
        .join(F.broadcast(total))
        .select("doc_id", F.round(score, 6).alias("bm25"))
        .orderBy(F.desc("bm25"), F.asc("doc_id"))
        .limit(20)
    )


# ---------------------------------------------------------------------------
# MinHash estimator calibration: over the LSH candidate pairs, compare
# the sketch's Jaccard estimate (fraction of equal signature
# components) with the EXACT shingle-set Jaccard, grouped by equal-
# component count. The "measure, don't guess" audit for the dedup
# threshold: it answers "when 6 of 8 minhashes agree, how similar are
# the documents really?" from the corpus itself. Scale: per-doc work
# (signatures, shingle sets) happens once per DOCUMENT; only LSH
# candidates (banding-bounded) pay the pair-level set intersection,
# and the report is |distinct component counts| <= 9 rows.
def _sql_minhash_calibration() -> str:
    mh_cols = ", ".join(
        f"list_aggregate(list_transform(sh, s -> md5('{i}:' || s)), 'min') AS mh{i}"
        for i in range(_NUM_HASHES)
    )
    band_rows = " UNION ALL ".join(
        f"SELECT doc_id, {b} AS band_idx, "
        f"md5(mh{b * _BAND_SIZE} || '|' || mh{b * _BAND_SIZE + 1}) AS band_hash FROM mh"
        for b in range(_NUM_HASHES // _BAND_SIZE)
    )
    n_eq = " + ".join(
        f"CASE WHEN a.mh{i} = b.mh{i} THEN 1 ELSE 0 END"
        for i in range(_NUM_HASHES)
    )
    return f"""
    WITH sh AS MATERIALIZED (
      SELECT doc_id, {_SQL_WORD_SHINGLES} AS sh FROM documents
    ),
    mh AS MATERIALIZED (SELECT doc_id, {mh_cols} FROM sh),
    bands AS MATERIALIZED ({band_rows}),
    cand AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM bands a JOIN bands b
        ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash
       AND a.doc_id < b.doc_id
    ),
    sets AS MATERIALIZED (SELECT doc_id, list_distinct(sh) AS st FROM sh),
    pairs AS (
      SELECT ({n_eq}) AS n_equal,
             round(len(list_intersect(sa.st, sb.st)) * 1.0
                   / (len(sa.st) + len(sb.st)
                      - len(list_intersect(sa.st, sb.st))), 6) AS exact_j
      FROM cand
      JOIN mh a ON a.doc_id = cand.id_a
      JOIN mh b ON b.doc_id = cand.id_b
      JOIN sets sa ON sa.doc_id = cand.id_a
      JOIN sets sb ON sb.doc_id = cand.id_b
    )
    SELECT CAST(n_equal AS INT) AS n_equal,
           round(n_equal / {float(_NUM_HASHES)}, 6) AS est_jaccard,
           CAST(COUNT(*) AS BIGINT) AS n_pairs,
           round(CAST(SUM(CAST(exact_j AS DECIMAL(18,6))) AS DOUBLE)
                 / COUNT(*), 6) AS mean_exact_jaccard
    FROM pairs GROUP BY n_equal ORDER BY n_equal
    """


def _lsh_verified_inputs(spark: SparkSession, sf_dir: str):
    """Shared machinery for the sketch-verification queries
    (minhash_jaccard_calibration, neardup_policy_sweep): LSH-banded
    candidate pairs plus the per-doc signature and distinct
    word-3-shingle-set tables, each computed once behind a lazy
    checkpoint. Returns (cand, sigs, sets)."""
    from ..functions.text import normalize_text, word_tokens
    from ..operators.dedup import lsh_band_buckets, minhash_signatures

    docs = t(spark, sf_dir, "documents")
    sigs = minhash_signatures(
        docs, "doc_id", "text", num_hashes=_NUM_HASHES
    ).localCheckpoint(eager=False)
    buckets = lsh_band_buckets(sigs, "doc_id", _NUM_HASHES, _BAND_SIZE)
    a = buckets.select("band_idx", "band_hash", F.col("doc_id").alias("id_a"))
    b = buckets.select("band_idx", "band_hash", F.col("doc_id").alias("id_b"))
    cand = (
        a.join(b, ["band_idx", "band_hash"])
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    # distinct word-3-shingle sets, the same construction the
    # signatures hash (greatest(n-2, 1) keeps short docs one-shingle)
    sets = docs.select(
        "doc_id", word_tokens(normalize_text(F.col("text"))).alias("_toks")
    ).select(
        "doc_id",
        F.array_distinct(
            F.expr(
                "transform(sequence(1, greatest(size(_toks) - 2, 1)),"
                " i -> array_join(slice(_toks, i, 3), ' '))"
            )
        ).alias("st"),
    ).localCheckpoint(eager=False)
    return cand, sigs, sets


@_q("minhash_jaccard_calibration", _sql_minhash_calibration())
def q_minhash_jaccard_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    cand, sigs, sets = _lsh_verified_inputs(spark, sf_dir)
    # per-doc feature table: signature columns + shingle set in ONE
    # table, so each pair side needs one join, not two
    feat = sigs.join(sets, "doc_id").localCheckpoint(eager=False)
    feat_a = feat.select(
        F.col("doc_id").alias("id_a"),
        F.col("st").alias("st_a"),
        *[F.col(f"mh{i}").alias(f"a{i}") for i in range(_NUM_HASHES)],
    )
    feat_b = feat.select(
        F.col("doc_id").alias("id_b"),
        F.col("st").alias("st_b"),
        *[F.col(f"mh{i}").alias(f"b{i}") for i in range(_NUM_HASHES)],
    )
    n_eq = None
    for i in range(_NUM_HASHES):
        c = F.when(F.col(f"a{i}") == F.col(f"b{i}"), 1).otherwise(0)
        n_eq = c if n_eq is None else n_eq + c
    inter = F.size(F.array_intersect("st_a", "st_b"))
    union = F.size("st_a") + F.size("st_b") - inter
    pairs = (
        cand.join(feat_a, "id_a")
        .join(feat_b, "id_b")
        .select(
            n_eq.alias("n_equal"),
            F.round(inter.cast("double") / union, 6).alias("exact_j"),
        )
    )
    return (
        pairs.groupBy("n_equal")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
            F.round(
                F.sum(F.col("exact_j").cast("decimal(18,6)")).cast("double")
                / F.count(F.lit(1)),
                6,
            ).alias("mean_exact_jaccard"),
        )
        .select(
            F.col("n_equal").cast("int").alias("n_equal"),
            F.round(F.col("n_equal") / float(_NUM_HASHES), 6).alias(
                "est_jaccard"
            ),
            "n_pairs",
            "mean_exact_jaccard",
        )
        .orderBy("n_equal")
    )


# ---------------------------------------------------------------------------
# Near-dup policy sweep: the what-if table behind choosing a dedup
# threshold — for each candidate Jaccard cutoff, how many LSH
# candidate pairs exceed it and how many documents those pairs touch.
# Pair similarities are computed ONCE (the LSH-blocked exact-verify
# set, same machinery as minhash_jaccard_calibration); the sweep is a
# per-pair threshold explode over a 5-element literal array — the
# policy table costs |thresholds| x |candidates| tiny rows, never a
# recompute of the expensive stage.
# calibrated to the fixture's bimodal candidate distribution
# (false candidates at j~0.01, true near-dups at j>=0.9):
# thresholds must SEPARATE policies or the sweep proves nothing
_SWEEP_THRESHOLDS = (0.0, 0.05, 0.5, 0.96, 0.99)


def _sql_neardup_sweep() -> str:
    mh_cols = ", ".join(
        f"list_aggregate(list_transform(sh, s -> md5('{i}:' || s)), 'min') AS mh{i}"
        for i in range(_NUM_HASHES)
    )
    band_rows = " UNION ALL ".join(
        f"SELECT doc_id, {b} AS band_idx, "
        f"md5(mh{b * _BAND_SIZE} || '|' || mh{b * _BAND_SIZE + 1}) AS band_hash FROM mh"
        for b in range(_NUM_HASHES // _BAND_SIZE)
    )
    thresholds = ", ".join(str(t) for t in _SWEEP_THRESHOLDS)
    return f"""
    WITH sh AS MATERIALIZED (
      SELECT doc_id, {_SQL_WORD_SHINGLES} AS sh FROM documents
    ),
    mh AS MATERIALIZED (SELECT doc_id, {mh_cols} FROM sh),
    bands AS MATERIALIZED ({band_rows}),
    cand AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM bands a JOIN bands b
        ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash
       AND a.doc_id < b.doc_id
    ),
    sets AS MATERIALIZED (SELECT doc_id, list_distinct(sh) AS st FROM sh),
    pairs AS MATERIALIZED (
      SELECT id_a, id_b,
             round(len(list_intersect(sa.st, sb.st)) * 1.0
                   / (len(sa.st) + len(sb.st)
                      - len(list_intersect(sa.st, sb.st))), 6) AS j
      FROM cand
      JOIN sets sa ON sa.doc_id = cand.id_a
      JOIN sets sb ON sb.doc_id = cand.id_b
    ),
    sweep AS (
      SELECT t.threshold, p.id_a, p.id_b
      FROM (SELECT CAST(unnest([{thresholds}]) AS DOUBLE) AS threshold) t
      JOIN pairs p ON p.j >= t.threshold
    ),
    docs_hit AS (
      SELECT threshold, id_a AS d FROM sweep
      UNION
      SELECT threshold, id_b AS d FROM sweep
    ),
    np AS (SELECT threshold, COUNT(*) AS n_pairs FROM sweep GROUP BY threshold),
    nd AS (SELECT threshold, COUNT(*) AS n_docs FROM docs_hit GROUP BY threshold)
    SELECT t.threshold,
           CAST(COALESCE(np.n_pairs, 0) AS BIGINT) AS n_pairs,
           CAST(COALESCE(nd.n_docs, 0) AS BIGINT) AS n_docs_affected
    FROM (SELECT CAST(unnest([{thresholds}]) AS DOUBLE) AS threshold) t
    LEFT JOIN np ON np.threshold = t.threshold
    LEFT JOIN nd ON nd.threshold = t.threshold
    ORDER BY t.threshold
    """


@_q("neardup_policy_sweep", _sql_neardup_sweep())
def q_neardup_policy_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    cand, _sigs, sets = _lsh_verified_inputs(spark, sf_dir)
    sa = sets.select(F.col("doc_id").alias("id_a"), F.col("st").alias("st_a"))
    sb = sets.select(F.col("doc_id").alias("id_b"), F.col("st").alias("st_b"))
    inter = F.size(F.array_intersect("st_a", "st_b"))
    union = F.size("st_a") + F.size("st_b") - inter
    pairs = (
        cand.join(sa, "id_a")
        .join(sb, "id_b")
        .select(
            "id_a",
            "id_b",
            F.round(inter.cast("double") / union, 6).alias("j"),
        )
        .localCheckpoint(eager=False)  # pair counts + doc counts share it
    )
    thr = spark.createDataFrame(
        [(t,) for t in _SWEEP_THRESHOLDS], "threshold double"
    )
    sweep = F.broadcast(thr).join(pairs, F.col("j") >= F.col("threshold"))
    docs_hit = (
        sweep.select("threshold", F.col("id_a").alias("d"))
        .unionByName(sweep.select("threshold", F.col("id_b").alias("d")))
        .distinct()
    )
    np_ = sweep.groupBy("threshold").agg(F.count(F.lit(1)).alias("n_pairs"))
    nd_ = docs_hit.groupBy("threshold").agg(F.count(F.lit(1)).alias("n_docs"))
    return (
        thr.join(np_, "threshold", "left")
        .join(nd_, "threshold", "left")
        .select(
            "threshold",
            F.coalesce(F.col("n_pairs"), F.lit(0))
            .cast("bigint")
            .alias("n_pairs"),
            F.coalesce(F.col("n_docs"), F.lit(0))
            .cast("bigint")
            .alias("n_docs_affected"),
        )
        .orderBy("threshold")
    )


# ---------------------------------------------------------------------------
# Query-likelihood ranking with Dirichlet smoothing (Ponte-Croft 1998;
# Zhai-Lafferty 2001, mu=2000 the standard default scaled to the
# fixture's short docs) — the language-model ranker that completes the
# retrieval triad (tf-idf: inverted_index_search, BM25: bm25_topk):
# score(q, d) = sum_t ln((tf_t,d + mu*P(t|C)) / (dl_d + mu)).
# Unlike tf-idf/BM25, every doc scores against every query term (the
# collection model backs off missing terms), so the ranked set is ALL
# docs — the plan still only shuffles the query-term postings, the
# collection LM is two broadcast scalars per term, and dl rides the
# same one-aggregate table as BM25. Fixed per-term expression order,
# ln of one ratio of exact-integer-derived doubles, round(...,6).
_QL_TERMS = ("merge", "filter", "group")
_QL_MU = 100.0  # Dirichlet prior, sized to the fixture's ~60-token docs


def _sql_ql_dirichlet() -> str:
    terms = ", ".join(f"'{x}'" for x in _QL_TERMS)
    tf_cols = ", ".join(
        f"SUM(CASE WHEN tok = '{x}' THEN 1 ELSE 0 END) AS tf_{x}"
        for x in _QL_TERMS
    )
    cf_cols = ", ".join(
        f"SUM(CASE WHEN tok = '{x}' THEN 1 ELSE 0 END) AS cf_{x}"
        for x in _QL_TERMS
    )
    score = " + ".join(
        f"ln((COALESCE(tf_{x}, 0) + {_QL_MU} * (cf_{x} / (SELECT n_tok FROM coll)))"
        f" / (dl + {_QL_MU}))"
        for x in _QL_TERMS
    )
    return f"""
    WITH toks AS MATERIALIZED (
      SELECT doc_id,
             unnest(string_split_regex(lower(text), '[^a-z0-9]+')) AS tok
      FROM documents
    ), nonempty AS MATERIALIZED (
      SELECT doc_id, tok FROM toks WHERE tok <> ''
    ),
    dls AS (SELECT doc_id, COUNT(*) AS dl FROM nonempty GROUP BY doc_id),
    coll AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n_tok FROM nonempty),
    cfs AS (SELECT {cf_cols} FROM nonempty WHERE tok IN ({terms})),
    tfs AS (
      SELECT doc_id, {tf_cols} FROM nonempty WHERE tok IN ({terms})
      GROUP BY doc_id
    )
    SELECT dls.doc_id, round({score}, 6) AS ql_score
    FROM dls LEFT JOIN tfs ON tfs.doc_id = dls.doc_id, cfs
    ORDER BY ql_score DESC, dls.doc_id LIMIT 20
    """


@_q("query_likelihood_dirichlet", _sql_ql_dirichlet())
def q_query_likelihood_dirichlet(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        F.explode(F.split(F.lower(F.col("text")), "[^a-z0-9]+")).alias("tok"),
    ).where(F.col("tok") != "").localCheckpoint(eager=False)  # dl + cf + tf
    dls = toks.groupBy("doc_id").agg(F.count(F.lit(1)).alias("dl"))
    coll = toks.agg(F.count(F.lit(1)).cast("double").alias("n_tok"))
    hits = toks.where(F.col("tok").isin(*_QL_TERMS))
    cfs = hits.agg(
        *[
            F.sum(F.when(F.col("tok") == x, 1).otherwise(0)).alias(f"cf_{x}")
            for x in _QL_TERMS
        ]
    )
    tfs = hits.groupBy("doc_id").agg(
        *[
            F.sum(F.when(F.col("tok") == x, 1).otherwise(0)).alias(f"tf_{x}")
            for x in _QL_TERMS
        ]
    )
    score = None
    for x in _QL_TERMS:
        term = F.log(
            (
                F.coalesce(F.col(f"tf_{x}"), F.lit(0))
                + F.lit(_QL_MU) * (F.col(f"cf_{x}") / F.col("n_tok"))
            )
            / (F.col("dl") + F.lit(_QL_MU))
        )
        score = term if score is None else score + term
    return (
        dls.join(tfs, "doc_id", "left")
        .join(F.broadcast(cfs))
        .join(F.broadcast(coll))
        .select("doc_id", F.round(score, 6).alias("ql_score"))
        .orderBy(F.desc("ql_score"), F.asc("doc_id"))
        .limit(20)
    )


# ---------------------------------------------------------------------------
# Sparse TF-IDF cosine similarity pairs via an INVERTED-INDEX join —
# the sparse-vector counterpart of the dense ANN tier: document
# vectors live as (term, weight) postings; candidate pairs come ONLY
# from shared postings (one equi-join on term), and rare-term pruning
# (df <= 25) bounds each posting list — the df-filter stands where
# PPJoin's prefix filter would at scale (drop the globally-common
# terms whose postings would dominate the join; the cosine is then
# over the PRUNED term subspace on both sides, consistently).
# Exact-lattice discipline: idf = round(ln(N/df)*1e6) BIGINT once per
# term (one transcendental, engine-identical); weights tf*idf_mu and
# the dot/norm quadratics stay exact integers (DECIMAL(38,0)/
# HUGEINT); one double division + sqrt at the end. Top-20 via
# orderBy+limit = TakeOrderedAndProject, no global sort.
_SPARSE_DF_MAX = 25


def _sql_sparse_cosine() -> str:
    words = (
        r"list_filter(regexp_split_to_array(trim(regexp_replace(lower(text),"
        r" '\s+', ' ', 'g')), ' '), x -> x <> '')"
    )
    return f"""
    WITH w AS (
      SELECT doc_id, {words} AS ws FROM documents
    ),
    bg AS (
      SELECT doc_id, ws[i] || '_' || ws[i + 1] AS term
      FROM w, LATERAL unnest(generate_series(1, len(ws) - 1)) AS s(i)
    ),
    tf AS (SELECT doc_id, term, COUNT(*) AS c FROM bg GROUP BY doc_id, term),
    df AS (
      SELECT term, COUNT(*) AS df FROM tf GROUP BY term
      HAVING COUNT(*) <= {_SPARSE_DF_MAX}
    ),
    n AS (SELECT COUNT(*) AS n_docs FROM documents),
    post AS (
      SELECT tf.doc_id, tf.term,
             tf.c * CAST(round(ln(CAST(n.n_docs AS DOUBLE) / df.df)
                               * 1000000.0, 0) AS BIGINT) AS w_mu
      FROM tf JOIN df ON df.term = tf.term, n
    ),
    nrm AS (
      SELECT doc_id, SUM(CAST(w_mu AS HUGEINT) * w_mu) AS n2
      FROM post GROUP BY doc_id
    ),
    dots AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             SUM(CAST(a.w_mu AS HUGEINT) * b.w_mu) AS dot
      FROM post a JOIN post b ON a.term = b.term AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
    )
    SELECT d.doc_a, d.doc_b,
           round(CAST(d.dot AS DOUBLE)
                 / (sqrt(CAST(na.n2 AS DOUBLE))
                    * sqrt(CAST(nb.n2 AS DOUBLE))), 6) AS cos_sim
    FROM dots d
    JOIN nrm na ON na.doc_id = d.doc_a
    JOIN nrm nb ON nb.doc_id = d.doc_b
    ORDER BY cos_sim DESC, doc_a, doc_b
    LIMIT 20
    """


@_q("sparse_cosine_pairs", _sql_sparse_cosine())
def q_sparse_cosine_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.text import normalize_text, word_tokens

    from ..operators.spread import spread_cpu

    docs = t(spark, sf_dir, "documents")
    w = spread_cpu(docs).select(
        "doc_id", word_tokens(normalize_text(F.col("text"))).alias("ws")
    )
    bg = w.select(
        "doc_id",
        F.explode(
            F.expr(
                "transform(sequence(1, size(ws) - 1),"
                " i -> concat(ws[i - 1], '_', ws[i]))"
            )
        ).alias("term"),
    )
    # tf feeds BOTH the df-prune aggregate and the posting build;
    # lazy-checkpoint so the bigram explode + count runs once (stage
    # census: two identical serial stages)
    tf = bg.groupBy("doc_id", "term").agg(
        F.count(F.lit(1)).alias("c")
    ).localCheckpoint(eager=False)
    df = (
        tf.groupBy("term")
        .agg(F.count(F.lit(1)).alias("df"))
        .where(F.col("df") <= _SPARSE_DF_MAX)
    )
    n_docs = docs.count()  # one scalar (like the BOM max key)
    idf_mu = F.round(
        F.log(F.lit(float(n_docs)) / F.col("df")) * 1000000.0, 0
    ).cast("bigint")
    post = (
        tf.join(df, "term")
        .select("doc_id", "term", (F.col("c") * idf_mu).alias("w_mu"))
        .localCheckpoint(eager=True)  # read by norms AND both join sides
    )
    nrm = post.groupBy("doc_id").agg(
        F.sum(F.col("w_mu").cast("decimal(38,0)") * F.col("w_mu")).alias("n2")
    )
    a = post.select(
        F.col("doc_id").alias("doc_a"), "term", F.col("w_mu").alias("wa")
    )
    b = post.select(
        F.col("doc_id").alias("doc_b"),
        F.col("term").alias("term_b"),
        F.col("w_mu").alias("wb"),
    )
    dots = (
        a.join(b, (a["term"] == b["term_b"]) & (a["doc_a"] < b["doc_b"]))
        .groupBy("doc_a", "doc_b")
        .agg(
            F.sum(F.col("wa").cast("decimal(38,0)") * F.col("wb")).alias("dot")
        )
    )
    na = nrm.select(F.col("doc_id").alias("na_id"), F.col("n2").alias("na2"))
    nb = nrm.select(F.col("doc_id").alias("nb_id"), F.col("n2").alias("nb2"))
    return (
        dots.join(na, dots["doc_a"] == na["na_id"])
        .join(nb, dots["doc_b"] == nb["nb_id"])
        .select(
            "doc_a",
            "doc_b",
            F.round(
                F.col("dot").cast("double")
                / (
                    F.sqrt(F.col("na2").cast("double"))
                    * F.sqrt(F.col("nb2").cast("double"))
                ),
                6,
            ).alias("cos_sim"),
        )
        .orderBy(F.desc("cos_sim"), "doc_a", "doc_b")
        .limit(20)
    )


# ---------------------------------------------------------------------------
# Boilerplate prefix clusters — the CCNet/RefinedWeb template-removal
# precursor: documents sharing a normalized 32-char prefix are almost
# always the same generator template (cookie banners, license
# headers), and deduplicating them by prefix CLUSTER rather than
# full-text hash catches near-identical boilerplate that exact_dedup
# misses. One normalization projection + one groupBy; top clusters by
# size with a deterministic sample doc. Normalization is the shared
# lowercase/alpha-space collapse so both engines key identically.
@_q(
    "boilerplate_prefix_clusters",
    """
    WITH norm AS (
      SELECT doc_id,
             substring(regexp_replace(lower(text), '[^a-z ]', '', 'g'),
                       1, 32) AS prefix
      FROM documents
    ),
    cl AS (
      SELECT prefix, COUNT(*) AS n_docs, MIN(doc_id) AS sample_doc
      FROM norm GROUP BY prefix HAVING COUNT(*) > 1
    )
    SELECT prefix, CAST(n_docs AS BIGINT) AS n_docs,
           CAST(sample_doc AS BIGINT) AS sample_doc
    FROM cl ORDER BY n_docs DESC, prefix LIMIT 10
    """,
)
def q_boilerplate_prefix_clusters(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    docs = t(spark, sf_dir, "documents")
    norm = docs.select(
        "doc_id",
        F.substring(
            F.regexp_replace(F.lower(F.col("text")), "[^a-z ]", ""), 1, 32
        ).alias("prefix"),
    )
    cl = (
        norm.groupBy("prefix")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("doc_id").alias("sample_doc"),
        )
        .where(F.col("n_docs") > 1)
    )
    return (
        cl.select(
            "prefix",
            F.col("n_docs").cast("bigint").alias("n_docs"),
            F.col("sample_doc").cast("bigint").alias("sample_doc"),
        )
        .orderBy(F.desc("n_docs"), "prefix")
        .limit(10)
    )


# ---------------------------------------------------------------------------
# RAKE keyword extraction (Rose et al. 2010) — unsupervised keyphrase
# mining: candidate phrases are maximal stopword-free token runs
# (found with the gaps-and-islands pattern — pos − row_number inside
# each doc, windows PARTITIONED by doc so nothing global), word score
# = degree/frequency where degree counts the length of every phrase
# containing the word (self included), and a phrase scores the sum of
# its words' scores. Cross-engine float seam: each word's
# degree/frequency ratio is an exact-integer-derived double round(9),
# and the per-phrase sum runs in DECIMAL(38,9) — order-free.
# Identical phrase texts share a score by construction (same word
# multiset), so the corpus-level report groups by phrase.
_RAKE_STOPS = (
    "the", "a", "of", "and", "to", "in", "is", "it", "for", "on",
)


def _sql_rake() -> str:
    stops = ", ".join(f"'{s}'" for s in _RAKE_STOPS)
    return f"""
    WITH arrs AS (
      SELECT doc_id, string_split_regex(lower(text), '[^a-z0-9]+') AS arr
      FROM documents
    ),
    toks AS (
      SELECT doc_id, i AS pos, arr[i] AS w
      FROM arrs, LATERAL unnest(generate_series(1, len(arr))) AS s(i)
      WHERE arr[i] <> ''
    ),
    nonstop AS (
      SELECT doc_id, pos, w,
             pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos)
               AS grp
      FROM toks WHERE w NOT IN ({stops})
    ),
    phr AS (
      SELECT doc_id, grp,
             string_agg(w, ' ' ORDER BY pos) AS phrase,
             COUNT(*) AS plen
      FROM nonstop GROUP BY doc_id, grp
    ),
    wstat AS (
      SELECT n.w, COUNT(*) AS freq, SUM(p.plen) AS deg
      FROM nonstop n
      JOIN phr p ON p.doc_id = n.doc_id AND p.grp = n.grp
      GROUP BY n.w
    ),
    occ_score AS (
      SELECT p.phrase, p.doc_id, p.grp,
             SUM(CAST(round(CAST(ws.deg AS DOUBLE) / ws.freq, 9)
                      AS DECIMAL(38,9))) AS score
      FROM nonstop n
      JOIN phr p ON p.doc_id = n.doc_id AND p.grp = n.grp
      JOIN wstat ws ON ws.w = n.w
      GROUP BY p.phrase, p.doc_id, p.grp
    )
    SELECT phrase, CAST(COUNT(*) AS BIGINT) AS n_occurrences,
           round(CAST(MAX(score) AS DOUBLE), 6) AS rake_score
    FROM occ_score GROUP BY phrase
    ORDER BY rake_score DESC, phrase LIMIT 10
    """


@_q("rake_keyword_extraction", _sql_rake())
def q_rake_keyword_extraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        F.posexplode(
            F.split(F.lower(F.col("text")), "[^a-z0-9]+")
        ).alias("pos0", "w"),
    ).where(F.col("w") != "")
    w_doc = Window.partitionBy("doc_id").orderBy("pos0")
    nonstop = (
        toks.where(~F.col("w").isin(*_RAKE_STOPS))
        .select(
            "doc_id",
            "pos0",
            "w",
            (F.col("pos0") - F.row_number().over(w_doc)).alias("grp"),
        )
    )
    phr = (
        nonstop.groupBy("doc_id", "grp")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos0", "w"))),
                    lambda s: s["w"],
                ),
                " ",
            ).alias("phrase"),
            F.count(F.lit(1)).alias("plen"),
        )
        .localCheckpoint(eager=True)  # read by wstat + occ_score
    )
    wstat = (
        nonstop.join(phr, ["doc_id", "grp"])
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("freq"), F.sum("plen").alias("deg"))
    )
    occ = (
        nonstop.join(phr, ["doc_id", "grp"])
        .join(wstat, "w")
        .groupBy("phrase", "doc_id", "grp")
        .agg(
            F.sum(
                F.round(
                    F.col("deg").cast("double") / F.col("freq"), 9
                ).cast("decimal(38,9)")
            ).alias("score")
        )
    )
    return (
        occ.groupBy("phrase")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_occurrences"),
            F.round(F.max("score").cast("double"), 6).alias("rake_score"),
        )
        .orderBy(F.desc("rake_score"), "phrase")
        .limit(10)
    )


# ---------------------------------------------------------------------------
# Burrows' Delta (Burrows 2002) — the stylometric authorship distance:
# per-source relative frequencies of the corpus' top-20 words are
# z-scored across sources, and Δ(a,b) = mean |z_a − z_b|. The corpus
# reduces to a (20 words × |sources|) DENSE frequency table in one
# scan (cross of the top-word dim with the source dim, zeros kept —
# a missing top word is itself a stylistic signal), so all the
# statistics run on a bounded frame. Float seams: f = c/N round(9);
# μ and σ² via the round-then-DECIMAL-sum discipline (cross-source
# sums are order-free); per-pair |z_a − z_b| terms round(9) summed in
# DECIMAL(38,9). Top-10 most similar source pairs.
@_q(
    "burrows_delta_sources",
    """
    WITH toks AS (
      SELECT source,
             unnest(string_split_regex(lower(text), '[^a-z0-9]+')) AS w
      FROM documents
    ),
    tk AS (SELECT source, w FROM toks WHERE w <> ''),
    ns AS (SELECT source, COUNT(*) AS n FROM tk GROUP BY source),
    cw AS (SELECT source, w, COUNT(*) AS c FROM tk GROUP BY source, w),
    topw AS (
      SELECT w FROM (SELECT w, SUM(c) AS ct FROM cw GROUP BY w)
      ORDER BY ct DESC, w LIMIT 20
    ),
    dense AS (
      SELECT topw.w, ns.source,
             CAST(round(CAST(COALESCE(cw.c, 0) AS DOUBLE) / ns.n, 9)
                  AS DECIMAL(38,9)) AS f9
      FROM topw CROSS JOIN ns
      LEFT JOIN cw ON cw.w = topw.w AND cw.source = ns.source
    ),
    mu AS (
      SELECT w, CAST(SUM(f9) AS DOUBLE) / COUNT(*) AS mu, COUNT(*) AS s
      FROM dense GROUP BY w
    ),
    var AS (
      SELECT d.w, m.mu,
             CAST(SUM(CAST(round((CAST(d.f9 AS DOUBLE) - m.mu)
                                 * (CAST(d.f9 AS DOUBLE) - m.mu), 12)
                           AS DECIMAL(38,12))) AS DOUBLE) / m.s AS v
      FROM dense d JOIN mu m ON m.w = d.w GROUP BY d.w, m.mu, m.s
    ),
    z AS (
      SELECT d.w, d.source,
             (CAST(d.f9 AS DOUBLE) - v.mu) / sqrt(v.v) AS z
      FROM dense d JOIN var v ON v.w = d.w WHERE v.v > 0
    ),
    pairs AS (
      SELECT a.source AS src_a, b.source AS src_b,
             SUM(CAST(round(ABS(a.z - b.z), 9) AS DECIMAL(38,9))) AS ds,
             COUNT(*) AS nw
      FROM z a JOIN z b ON a.w = b.w AND a.source < b.source
      GROUP BY a.source, b.source
    )
    SELECT src_a, src_b,
           round(CAST(ds AS DOUBLE) / nw, 6) AS delta
    FROM pairs ORDER BY delta, src_a, src_b LIMIT 10
    """,
)
def q_burrows_delta_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents")
    tk = docs.select(
        "source",
        F.explode(F.split(F.lower(F.col("text")), "[^a-z0-9]+")).alias("w"),
    ).where(F.col("w") != "")
    ns = tk.groupBy("source").agg(F.count(F.lit(1)).alias("n"))
    cw = tk.groupBy("source", "w").agg(F.count(F.lit(1)).alias("c"))
    topw = (
        cw.groupBy("w")
        .agg(F.sum("c").alias("ct"))
        .orderBy(F.desc("ct"), "w")
        .limit(20)
        .select("w")
    )
    dense = (
        F.broadcast(topw)
        .crossJoin(F.broadcast(ns))
        .join(cw, ["w", "source"], "left")
        .select(
            "w",
            "source",
            F.round(
                F.coalesce(F.col("c"), F.lit(0)).cast("double") / F.col("n"),
                9,
            )
            .cast("decimal(38,9)")
            .alias("f9"),
        )
        .localCheckpoint(eager=True)  # bounded 20 x |sources| frame, 3 readers
    )
    mu = dense.groupBy("w").agg(
        (F.sum("f9").cast("double") / F.count(F.lit(1))).alias("mu"),
        F.count(F.lit(1)).alias("s"),
    )
    dm = dense.join(mu, "w")
    dev = F.col("f9").cast("double") - F.col("mu")
    var = dm.groupBy("w", "mu", "s").agg(
        (
            F.sum(F.round(dev * dev, 12).cast("decimal(38,12)")).cast(
                "double"
            )
            / F.col("s")
        ).alias("v")
    )
    z = (
        dense.join(var.where(F.col("v") > 0), "w")
        .select(
            "w",
            "source",
            (
                (F.col("f9").cast("double") - F.col("mu"))
                / F.sqrt(F.col("v"))
            ).alias("z"),
        )
    )
    a = z.select("w", F.col("source").alias("src_a"), F.col("z").alias("za"))
    b = z.select("w", F.col("source").alias("src_b"), F.col("z").alias("zb"))
    pairs = (
        a.join(b, (a["w"] == b["w"]) & (F.col("src_a") < F.col("src_b")))
        .groupBy("src_a", "src_b")
        .agg(
            F.sum(
                F.round(F.abs(F.col("za") - F.col("zb")), 9).cast(
                    "decimal(38,9)"
                )
            ).alias("ds"),
            F.count(F.lit(1)).alias("nw"),
        )
    )
    return (
        pairs.select(
            "src_a",
            "src_b",
            F.round(F.col("ds").cast("double") / F.col("nw"), 6).alias(
                "delta"
            ),
        )
        .orderBy("delta", "src_a", "src_b")
        .limit(10)
    )


# ---------------------------------------------------------------------------
# Token-budget corpus cut: the "fill N tokens with the best data"
# selection every pretraining run makes. Docs are ranked by the
# 4-part quality score (quality_score, round(6)) with doc_id
# tiebreak; the admit rule is cum_tokens_before < B where the budget
# B = 20% of the corpus token total (data-derived scalar). The
# cumulative token count is the DISTRIBUTED prefix scan
# (operators.quantiles.with_global_cumsum) — never a single-partition
# global window over the doc spine — and tokens are exact integers,
# so the cut boundary is deterministic. Report: per-lang admitted
# docs/tokens + the minimum quality that made the cut.
@_q(
    "token_budget_corpus_cut",
    f"""
    WITH scored AS (
      SELECT doc_id, lang,
             CAST(len({_SQL_TOKENS}) AS BIGINT) AS n_tokens,
             round((
                 least(length(text) / 1000.0, 1.0)
               + CASE WHEN len({_SQL_TOKENS}) > 0
                           AND length(text) * 1.0 / len({_SQL_TOKENS})
                               BETWEEN 3.0 AND 12.0
                      THEN 1.0 ELSE 0.0 END
               + CASE WHEN length(text) > 0
                      THEN length(regexp_replace(text, '[^A-Za-z]', '', 'g'))
                           * 1.0 / length(text)
                      ELSE 0.0 END
               + CASE WHEN {_SQL_QUALITY_STOP} THEN 1.0 ELSE 0.0 END
             ) / 4.0, 6) AS q
      FROM documents
    ),
    budget AS (SELECT SUM(n_tokens) // 5 AS b FROM scored),
    cum AS (
      SELECT doc_id, lang, n_tokens, q,
             SUM(n_tokens) OVER (ORDER BY q DESC, doc_id) - n_tokens
               AS cum_before
      FROM scored
    ),
    admitted AS (
      SELECT cum.* FROM cum, budget WHERE cum.cum_before < budget.b
    )
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS tokens_admitted,
           MIN(q) AS min_quality_admitted
    FROM admitted GROUP BY lang ORDER BY lang
    """,
)
def q_token_budget_corpus_cut(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.quantiles import with_global_cumsum

    docs = t(spark, sf_dir, "documents")
    scored = docs.select(
        "doc_id",
        "lang",
        token_count(F.col("text")).cast("bigint").alias("n_tokens"),
        F.round(quality_score(F.col("text")), 6).alias("q"),
    )
    budget = scored.agg(
        F.floor(F.sum("n_tokens") / 5).cast("bigint").alias("b")
    )
    cum = with_global_cumsum(
        scored, ["q", "doc_id"], ["n_tokens"], ascending=[False, True]
    ).select(
        "lang",
        "n_tokens",
        "q",
        (F.col("cum_n_tokens") - F.col("n_tokens")).alias("cum_before"),
    )
    return (
        cum.crossJoin(F.broadcast(budget))
        .where(F.col("cum_before") < F.col("b"))
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("n_tokens").cast("bigint").alias("tokens_admitted"),
            F.min("q").alias("min_quality_admitted"),
        )
        .orderBy("lang")
    )


# ---------------------------------------------------------------------------
# Q-gram count-filter edit-distance similarity join — the scalable
# candidate generation for ed <= 2 over ALL distinct part names, with
# the pruning bound self-certified by the oracle: each edit destroys
# at most q grams, so ed(a,b) <= d implies shared 2-gram mass
# sum(min(cnt_a, cnt_b)) >= (max(|a|,|b|) - q + 1) - d*q
# (Gravano et al., VLDB 2001). Candidates come from ONE gram
# equi-join (never the quadratic name cross product); pairs whose
# bound is vacuous (both names <= q + d*q - 1 chars) are unioned in
# explicitly from the tiny short-name set, so completeness never
# leans on fixture lengths. Verification is levenshtein on the
# surviving candidates only. The DuckDB twin is the UNPRUNED brute
# force over all distinct-name pairs — identical output IS the proof
# the filter dropped nothing. 100 TB: names dedup to the domain
# (adjective x noun lattice here); gram postings shuffle once;
# multiplicities rejoin at the end as n_part_pairs.
@_q(
    "qgram_edit_join",
    """
    WITH names AS (
      SELECT p_name AS name, CAST(COUNT(*) AS BIGINT) AS cnt
      FROM part GROUP BY p_name
    )
    SELECT a.name AS name_a, b.name AS name_b,
           CAST(levenshtein(a.name, b.name) AS BIGINT) AS edit_dist,
           a.cnt * b.cnt AS n_part_pairs
    FROM names a JOIN names b ON a.name < b.name
    WHERE levenshtein(a.name, b.name) <= 2
    ORDER BY name_a, name_b
    """,
)
def q_qgram_edit_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = t(spark, sf_dir, "part")
    names = part.groupBy(F.col("p_name").alias("name")).agg(
        F.count(F.lit(1)).cast("bigint").alias("cnt")
    )
    named = names.select(
        "name", "cnt", F.length("name").cast("bigint").alias("ln")
    )
    # positional 2-gram multiset per name: (name, gram, gram_count)
    grams = (
        named.select(
            "name",
            F.explode(
                F.expr(
                    "transform(sequence(1, length(name) - 1),"
                    " i -> substring(name, i, 2))"
                )
            ).alias("gram"),
        )
        .groupBy("name", "gram")
        .agg(F.count(F.lit(1)).alias("gcnt"))
    )
    ga = grams.select(
        F.col("name").alias("na"), "gram", F.col("gcnt").alias("ca")
    )
    gb = grams.select(
        F.col("name").alias("nb"), "gram", F.col("gcnt").alias("cb")
    )
    la = named.select(F.col("name").alias("na"), F.col("ln").alias("la"),
                      F.col("cnt").alias("cnta"))
    lb = named.select(F.col("name").alias("nb"), F.col("ln").alias("lb"),
                      F.col("cnt").alias("cntb"))
    shared = (
        ga.join(gb, (F.col("na") < F.col("nb")) & (ga.gram == gb.gram))
        .groupBy("na", "nb")
        .agg(F.sum(F.least(F.col("ca"), F.col("cb"))).alias("shared"))
    )
    # count-filter bound: t = (max(la,lb) - 1) - 4; vacuous when t < 1
    cand = (
        shared.join(la, "na")
        .join(lb, "nb")
        .where(
            (F.abs(F.col("la") - F.col("lb")) <= 2)
            & (
                F.col("shared")
                >= F.greatest(F.col("la"), F.col("lb")) - 5
            )
        )
        .select("na", "nb", "cnta", "cntb")
    )
    # pairs the bound cannot prune: both names short enough that
    # t = max(la, lb) - 5 < 1, i.e. max(la, lb) <= 5
    shorts = named.where(F.col("ln") <= 5)
    sa = shorts.select(F.col("name").alias("na"), F.col("ln").alias("la"),
                       F.col("cnt").alias("cnta"))
    sb = shorts.select(F.col("name").alias("nb"), F.col("ln").alias("lb"),
                       F.col("cnt").alias("cntb"))
    vac = (
        sa.join(sb, (F.col("na") < F.col("nb")))
        .where(F.abs(F.col("la") - F.col("lb")) <= 2)
        .select("na", "nb", "cnta", "cntb")
    )
    return (
        cand.unionByName(vac)
        .distinct()
        .where(F.levenshtein(F.col("na"), F.col("nb")) <= 2)
        .select(
            F.col("na").alias("name_a"),
            F.col("nb").alias("name_b"),
            F.levenshtein(F.col("na"), F.col("nb"))
            .cast("bigint")
            .alias("edit_dist"),
            (F.col("cnta") * F.col("cntb")).cast("bigint").alias("n_part_pairs"),
        )
        .orderBy("name_a", "name_b")
    )


# ---------------------------------------------------------------------------
# Burrows-Wheeler run census — the compressibility diagnostic
# (Burrows & Wheeler, 1994): the BWT clusters equal context-sharing
# characters, so its RUN COUNT divided by length approximates the
# bzip2-family compression ratio without compressing anything. Per
# document (200-char prefix bounds the quadratic rotation cost;
# linear in docs at any corpus size): all cyclic rotations sort as
# plain binary strings (ASCII corpus; Spark UTF8 and DuckDB default
# collation agree byte-wise), and the transform's k-th char is
# text[(i-1) mod n] of the k-th rotation — computed directly, no
# materialized last-char slice. Periodic texts tie rotations
# harmlessly (identical keys emit identical chars, so run counts are
# tie-order-free). Output: the 20 most compressible documents.
_BWT_PREFIX = 200


@_q(
    "bwt_run_census",
    f"""
    WITH pre AS (
      SELECT doc_id, substring(text, 1, {_BWT_PREFIX}) AS s,
             length(substring(text, 1, {_BWT_PREFIX})) AS n
      FROM documents
    ),
    rot AS (
      SELECT doc_id, n,
             substring(s, CAST(t.i AS INT) + 1, n - CAST(t.i AS INT))
               || substring(s, 1, CAST(t.i AS INT)) AS key,
             substring(s, CAST((t.i + n - 1) % n AS INT) + 1, 1) AS c
      FROM pre JOIN range(0, {_BWT_PREFIX}) t(i) ON t.i < n
    ),
    runs AS (
      SELECT doc_id, max(n) AS n_chars,
             CAST(1 + SUM(CASE WHEN c <> prev THEN 1 ELSE 0 END) AS BIGINT)
               AS bwt_runs
      FROM (
        SELECT doc_id, n, c,
               LAG(c) OVER (PARTITION BY doc_id ORDER BY key, c) AS prev
        FROM rot
      ) GROUP BY doc_id
    )
    SELECT doc_id, CAST(n_chars AS BIGINT) AS n_chars, bwt_runs,
           round(CAST(bwt_runs AS DOUBLE) / n_chars, 6) AS run_ratio
    FROM runs ORDER BY run_ratio, doc_id LIMIT 20
    """,
)
def q_bwt_run_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents")
    pre = docs.select(
        "doc_id",
        F.substring("text", 1, _BWT_PREFIX).alias("s"),
        F.length(F.substring("text", 1, _BWT_PREFIX)).alias("n"),
    )
    rot = pre.select(
        "doc_id",
        "s",
        "n",
        F.explode(F.sequence(F.lit(0), F.col("n") - 1)).alias("i"),
    ).select(
        "doc_id",
        "n",
        F.concat(
            F.expr("substring(s, i + 1, n - i)"), F.expr("substring(s, 1, i)")
        ).alias("key"),
        F.expr("substring(s, CAST((i + n - 1) % n AS INT) + 1, 1)").alias("c"),
    )
    w = Window.partitionBy("doc_id").orderBy("key", "c")
    runs = (
        rot.select(
            "doc_id", "n", "c", F.lag("c").over(w).alias("prev")
        )
        .groupBy("doc_id")
        .agg(
            F.max("n").alias("n_chars"),
            (
                1
                + F.sum(
                    F.when(F.col("c") != F.col("prev"), 1).otherwise(0)
                )
            )
            .cast("bigint")
            .alias("bwt_runs"),
        )
    )
    return (
        runs.select(
            "doc_id",
            F.col("n_chars").cast("bigint").alias("n_chars"),
            "bwt_runs",
            F.round(
                F.col("bwt_runs").cast("double") / F.col("n_chars"), 6
            ).alias("run_ratio"),
        )
        .orderBy("run_ratio", "doc_id")
        .limit(20)
    )


# ---------------------------------------------------------------------------
# Readability metrics per language (r14) — the corpus-quality signal
# classic readability formulas reduce to on an unpunctuated corpus:
# vowel-group syllable counts (silent-e adjusted), complex-word rate
# (>= 3 syllables), and Flesch reading ease computed with 15-word
# pseudo-sentences (the fixture corpus has no terminal punctuation;
# the W/S term is still exercised, deterministically). Exactness:
# syllable counts are integers from one regexp_extract_all per word
# (RE2 and Java regex agree on the '[aeiou]+' class), aggregates are
# exact BIGINT sums per lang, and each reported score is one closed-
# form double. Plan: explode words -> per-lang integer aggregate.
@_q(
    "readability_scores",
    """
    WITH words AS (
      SELECT lang, unnest(list_filter(regexp_split_to_array(
               trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' '),
               x -> x <> '')) AS w
      FROM documents
    ),
    syl AS (
      SELECT lang, w,
             GREATEST(
               len(regexp_extract_all(w, '[aeiou]+'))
               - CASE WHEN w LIKE '%e'
                       AND len(regexp_extract_all(w, '[aeiou]+')) >= 2
                      THEN 1 ELSE 0 END,
               1) AS s
      FROM words
    ),
    agg AS (
      SELECT lang,
             CAST(COUNT(*) AS BIGINT) AS n_words,
             CAST(SUM(s) AS BIGINT) AS n_syllables,
             CAST(SUM(CASE WHEN s >= 3 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_complex
      FROM syl GROUP BY 1
    )
    SELECT lang, n_words, n_syllables,
           round(CAST(n_syllables AS DOUBLE) / n_words, 6)
             AS syllables_per_word,
           round(CAST(n_complex AS DOUBLE) / n_words, 6) AS complex_rate,
           round(206.835 - 1.015 * 15.0
                 - 84.6 * (CAST(n_syllables AS DOUBLE) / n_words), 6)
             AS flesch_pseudo
    FROM agg ORDER BY lang
    """,
)
def q_readability_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents")
    words = docs.select(
        "lang",
        F.explode(
            F.filter(
                F.split(
                    F.trim(
                        F.regexp_replace(F.lower(F.col("text")), r"\s+", " ")
                    ),
                    " ",
                ),
                lambda x: x != "",
            )
        ).alias("w"),
    )
    groups = F.size(F.regexp_extract_all(F.col("w"), F.lit("[aeiou]+"), 0))
    s = F.greatest(
        groups
        - F.when(F.col("w").endswith("e") & (groups >= 2), 1).otherwise(0),
        F.lit(1),
    )
    agg = words.select("lang", s.alias("s")).groupBy("lang").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_words"),
        F.sum("s").cast("bigint").alias("n_syllables"),
        F.sum(F.when(F.col("s") >= 3, 1).otherwise(0))
        .cast("bigint")
        .alias("n_complex"),
    )
    spw = F.col("n_syllables").cast("double") / F.col("n_words")
    return agg.select(
        "lang",
        "n_words",
        "n_syllables",
        F.round(spw, 6).alias("syllables_per_word"),
        F.round(F.col("n_complex").cast("double") / F.col("n_words"), 6).alias(
            "complex_rate"
        ),
        F.round(206.835 - 1.015 * 15.0 - 84.6 * spw, 6).alias(
            "flesch_pseudo"
        ),
    ).orderBy("lang")
