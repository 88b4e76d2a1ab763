"""Language-model data-prep queries: windowed co-occurrence PMI (the
embedding-training statistic), greedy next-fit sequence packing (the
pretraining batch-builder), and held-out bigram perplexity (the
data-quality score a curriculum/mixing pipeline ranks sources by).

Determinism: counts stay on the integer lattice; every transcendental
(ln) is applied to a single division of exact integers and the final
statistic is round(...,6) — the repo's transcendental seam. Per-doc
log-sums are ORDERED folds (sort_array+aggregate in Spark,
list_sum(list(... ORDER BY pos)) in DuckDB) so float accumulation
order is pinned cross-engine.

Scale notes (100 TB):
- PMI reduces the corpus to (pair, count) partials that combine
  map-side; the window (±2 positions) bounds pair generation to
  2n per doc, never n^2. The min-count floor keeps the output the
  head of the distribution, not the long noise tail.
- Packing is sequential WITHIN a group by construction (next-fit is
  a running state), so the group key is the parallelism unit:
  production shards by (lang, hash-bucket) to bound group size; each
  group is one applyInPandas call doing an O(n) fill scan.
- Perplexity joins held-out bigrams against the train LM — the LM is
  the small side at eval time (vocab^2 cap + min-count pruning) and
  broadcasts; here it's a plain shuffle join since the fixture LM is
  unpruned.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.text import normalize_text, word_tokens
from ._util import _SQL_WORDS, _words_df, t, registry

QUERIES, ORACLES, _q = registry()


_PMI_WINDOW = 2
_PMI_MIN_COUNT = 30
_PACK_CAP = 256
_PACK_SHARD = 128
_PPL_HOLDOUT_MOD = 5


# ---------------------------------------------------------------------------
# Windowed co-occurrence PMI: pairs within +-2 positions, unordered
# (lexically canonical), min-count floored. pmi = ln(c_ab*Nu^2 /
# (Np*c_a*c_b)) — numerator/denominator exact BIGINT products, one
# division, one ln.
@_q(
    "pmi_cooccurrence",
    f"""
    WITH words AS (
      SELECT doc_id, {_SQL_WORDS} AS w FROM documents
    ), uni AS (
      SELECT word, COUNT(*) AS c
      FROM words, LATERAL unnest(w) AS u(word) GROUP BY 1
    ), nu AS (
      SELECT SUM(c) AS n_u FROM uni
    ), pairs AS (
      -- pair stream stays per-row array math: offsets 1..W unrolled
      -- inside the doc, never a positional self-join
      SELECT CASE WHEN w[i] <= w[i+off] THEN w[i] ELSE w[i+off] END AS w1,
             CASE WHEN w[i] <= w[i+off] THEN w[i+off] ELSE w[i] END AS w2,
             COUNT(*) AS c_ab
      FROM words,
           LATERAL unnest(generate_series(1, {_PMI_WINDOW})) AS o(off),
           LATERAL unnest(generate_series(1, len(w) - off)) AS s(i)
      GROUP BY 1, 2
    ), np AS (
      SELECT SUM(c_ab) AS n_p FROM pairs
    )
    SELECT p.w1, p.w2, p.c_ab,
           round(ln(CAST(p.c_ab * nu.n_u * nu.n_u AS DOUBLE)
                    / (np.n_p * ua.c * ub.c)), 6) AS pmi
    FROM pairs p
    JOIN uni ua ON ua.word = p.w1
    JOIN uni ub ON ub.word = p.w2
    CROSS JOIN nu CROSS JOIN np
    WHERE p.c_ab >= {_PMI_MIN_COUNT}
    """,
)
def q_pmi_cooccurrence(spark: SparkSession, sf_dir: str) -> DataFrame:
    words = _words_df(spark, sf_dir)
    uni = (
        words.select(F.explode("w").alias("word"))
        .groupBy("word")
        .agg(F.count("*").alias("c"))
    )
    n_u = uni.agg(F.sum("c").alias("n_u"))
    # pair stream from per-row array math (offsets unrolled inside the
    # doc) — no positional self-join, so the only shuffle is the
    # (w1, w2) count aggregation
    pairs = (
        words.select(
            F.explode(
                F.expr(
                    f"flatten(transform(sequence(1, {_PMI_WINDOW}), off ->"
                    " CASE WHEN size(w) > off THEN"
                    " transform(sequence(1, size(w) - off), i ->"
                    " struct(CASE WHEN element_at(w, i) <= element_at(w, i + off)"
                    "   THEN element_at(w, i) ELSE element_at(w, i + off) END AS w1,"
                    " CASE WHEN element_at(w, i) <= element_at(w, i + off)"
                    "   THEN element_at(w, i + off) ELSE element_at(w, i) END AS w2))"
                    " ELSE array() END))"
                )
            ).alias("p")
        )
        .select(F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2"))
        .groupBy("w1", "w2")
        .agg(F.count("*").alias("c_ab"))
    )
    n_p = pairs.agg(F.sum("c_ab").alias("n_p"))
    ua = uni.select(F.col("word").alias("w1"), F.col("c").alias("c_a"))
    ub = uni.select(F.col("word").alias("w2"), F.col("c").alias("c_b"))
    return (
        pairs.where(F.col("c_ab") >= _PMI_MIN_COUNT)
        .join(F.broadcast(ua), "w1")
        .join(F.broadcast(ub), "w2")
        .crossJoin(F.broadcast(n_u))
        .crossJoin(F.broadcast(n_p))
        .select(
            "w1",
            "w2",
            "c_ab",
            F.round(
                F.log(
                    (F.col("c_ab") * F.col("n_u") * F.col("n_u")).cast("double")
                    / (F.col("n_p") * F.col("c_a") * F.col("c_b"))
                ),
                6,
            ).alias("pmi"),
        )
    )


# ---------------------------------------------------------------------------
# Greedy next-fit sequence packing: per (language, 128-doc shard),
# docs in doc_id order fill 256-token bins; a doc that would overflow
# opens the next bin. Sequential state => applyInPandas per group,
# and the SHARD is the scale contract: packing state never spans a
# shard, so group size — and the oracle's recursion depth — is
# bounded by the shard width at any corpus size (the unsharded form
# took 280 s of recursive-CTE depth at sf0.1; sharded, 130 levels
# max). The oracle is the same recurrence as a recursive CTE.
@_q(
    "sequence_packing",
    f"""
    WITH words AS (
      SELECT doc_id, lang,
             CAST(doc_id // {_PACK_SHARD} AS BIGINT) AS shard,
             CAST(len({_SQL_WORDS}) AS BIGINT) AS n_tokens
      FROM documents
    ), seq AS (
      SELECT *, row_number() OVER (PARTITION BY lang, shard
                                   ORDER BY doc_id) AS rn
      FROM words
    ), packed AS (
      WITH RECURSIVE fill AS (
        SELECT doc_id, lang, shard, n_tokens, rn,
               CAST(0 AS BIGINT) AS bin_id, n_tokens AS fill_after
        FROM seq WHERE rn = 1
        UNION ALL
        SELECT s.doc_id, s.lang, s.shard, s.n_tokens, s.rn,
               CASE WHEN f.fill_after + s.n_tokens <= {_PACK_CAP}
                    THEN f.bin_id ELSE f.bin_id + 1 END,
               CASE WHEN f.fill_after + s.n_tokens <= {_PACK_CAP}
                    THEN f.fill_after + s.n_tokens ELSE s.n_tokens END
        FROM fill f JOIN seq s ON s.lang = f.lang AND s.shard = f.shard
                              AND s.rn = f.rn + 1
      )
      SELECT * FROM fill
    )
    SELECT doc_id, lang, shard, n_tokens, bin_id, fill_after FROM packed
    """,
)
def q_sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents").select(
        "doc_id",
        "lang",
        (F.col("doc_id") / _PACK_SHARD).cast("bigint").alias("shard"),
        F.size(word_tokens(normalize_text(F.col("text"))))
        .cast("bigint")
        .alias("n_tokens"),
    )

    def pack(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("doc_id").reset_index(drop=True)
        bins, fills = [], []
        bin_id, fill = 0, 0
        for n in pdf.n_tokens:
            if fill + n <= _PACK_CAP and fills:
                fill += n
            else:
                if fills:
                    bin_id += 1
                fill = n
            bins.append(bin_id)
            fills.append(fill)
        pdf["bin_id"] = pd.Series(bins, dtype="int64")
        pdf["fill_after"] = pd.Series(fills, dtype="int64")
        return pdf

    return docs.groupBy("lang", "shard").applyInPandas(
        pack,
        schema="doc_id bigint, lang string, shard bigint, n_tokens bigint, "
        "bin_id bigint, fill_after bigint",
    )


# ---------------------------------------------------------------------------
# Held-out bigram perplexity: add-1-smoothed bigram LM from the train
# split (doc_id % 5 != 0) scored on held-out docs. Per-doc NLL is an
# ORDERED fold over positions so the float sum is engine-identical.
@_q(
    "bigram_perplexity",
    f"""
    WITH words AS (
      SELECT doc_id, {_SQL_WORDS} AS w FROM documents
    ), bigrams AS (
      SELECT doc_id, i - 1 AS pos, w[i-1] AS a, w[i] AS b
      FROM words, LATERAL unnest(generate_series(2, len(w))) AS s(i)
      WHERE len(w) >= 2
    ), train_bi AS (
      SELECT a, b, COUNT(*) AS c_ab FROM bigrams
      WHERE doc_id % {_PPL_HOLDOUT_MOD} <> 0 GROUP BY 1, 2
    ), train_uni AS (
      SELECT word, COUNT(*) AS c_a
      FROM words, LATERAL unnest(w) AS u(word)
      WHERE doc_id % {_PPL_HOLDOUT_MOD} <> 0 GROUP BY 1
    ), vocab AS (
      SELECT COUNT(*) AS v FROM train_uni
    ), scored AS (
      SELECT h.doc_id, h.pos,
             ln(CAST(COALESCE(tb.c_ab, 0) + 1 AS DOUBLE)
                / (COALESCE(tu.c_a, 0) + vocab.v)) AS lnp
      FROM bigrams h
      LEFT JOIN train_bi tb ON tb.a = h.a AND tb.b = h.b
      LEFT JOIN train_uni tu ON tu.word = h.a
      CROSS JOIN vocab
      WHERE h.doc_id % {_PPL_HOLDOUT_MOD} = 0
    )
    SELECT doc_id, COUNT(*) AS n_bigrams,
           round(-list_sum(list(lnp ORDER BY pos)) / COUNT(*), 6) AS avg_nll
    FROM scored GROUP BY doc_id
    """,
)
def q_bigram_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    words = _words_df(spark, sf_dir)
    bigrams = (
        words.where(F.size("w") >= 2)
        .select(
            "doc_id",
            F.posexplode(
                F.expr(
                    "transform(sequence(2, size(w)), i ->"
                    " struct(element_at(w, i - 1) AS a, element_at(w, i) AS b))"
                )
            ).alias("pos", "ab"),
        )
        .select("doc_id", "pos", F.col("ab.a").alias("a"), F.col("ab.b").alias("b"))
    )
    train_bi = (
        bigrams.where(F.col("doc_id") % _PPL_HOLDOUT_MOD != 0)
        .groupBy("a", "b")
        .agg(F.count("*").alias("c_ab"))
    )
    train_uni = (
        words.where(F.col("doc_id") % _PPL_HOLDOUT_MOD != 0)
        .select(F.explode("w").alias("word"))
        .groupBy("word")
        .agg(F.count("*").alias("c_a"))
    )
    vocab = train_uni.agg(F.count("*").alias("v"))
    held = bigrams.where(F.col("doc_id") % _PPL_HOLDOUT_MOD == 0)
    scored = (
        held.join(train_bi, ["a", "b"], "left")
        .join(
            train_uni.withColumnRenamed("word", "a"), "a", "left"
        )
        .crossJoin(F.broadcast(vocab))
        .select(
            "doc_id",
            "pos",
            F.log(
                (F.coalesce(F.col("c_ab"), F.lit(0)) + 1).cast("double")
                / (F.coalesce(F.col("c_a"), F.lit(0)) + F.col("v"))
            ).alias("lnp"),
        )
    )
    return scored.groupBy("doc_id").agg(
        F.count("*").alias("n_bigrams"),
        F.round(
            -F.aggregate(
                F.sort_array(F.collect_list(F.struct("pos", "lnp"))),
                F.lit(0.0),
                lambda acc, x: acc + x["lnp"],
            )
            / F.count("*"),
            6,
        ).alias("avg_nll"),
    )


# ---------------------------------------------------------------------------
# BPE merge training (byte-pair encoding, the tokenizer-training core
# loop): start from characters, repeatedly merge the highest-count
# adjacent symbol pair. The distributed step is the corpus word-type
# count (at 100 TB: one aggregation over the token stream); every
# merge round then runs over the word-TYPE table (|vocab| rows, not
# |corpus|), exactly how production BPE trainers exploit type counts.
# Per round only the single argmax pair row moves to the driver (the
# k-means-centroid discipline), which becomes a literal in the next
# round's plan.
#
# Merge application is greedy left-to-right non-overlapping — the BPE
# convention — implemented with three plain string replaces: double
# every boundary space, replace ' a  b ' with ' ab ', collapse double
# spaces. The doubling makes adjacent occurrences share no characters
# (each match consumes one private space per side), so engine
# replace-all semantics are identical; no regex lookahead (which RE2/
# DuckDB lacks) is needed. Pair counting is the standard overlapping
# zip(s, s[1:]) weighted by type count; ties break on (lft, rgt)
# ascii order in both engines.
_BPE_MERGES = 8


def _sql_bpe() -> str:
    ctes = [
        """words AS MATERIALIZED (
      SELECT word, COUNT(*) AS cnt FROM (
        SELECT unnest(string_split_regex(lower(text), '[^a-z0-9]+')) AS word
        FROM documents
      ) WHERE word <> '' GROUP BY word
    ),
    w0 AS MATERIALIZED (
      SELECT word, cnt,
             ' ' || regexp_replace(word, '(.)', '\\1 ', 'g') AS sym
      FROM words
    )"""
    ]
    for k in range(_BPE_MERGES):
        ctes.append(
            f"""p{k} AS MATERIALIZED (
      SELECT l[i] AS lft, l[i + 1] AS rgt, SUM(cnt) AS pair_count
      FROM (
        SELECT cnt, l, unnest(range(1, len(l))) AS i
        FROM (SELECT cnt, string_split(trim(sym), ' ') AS l FROM w{k})
      ) GROUP BY lft, rgt
    ),
    m{k} AS MATERIALIZED (
      SELECT lft, rgt, pair_count FROM p{k}
      ORDER BY pair_count DESC, lft, rgt LIMIT 1
    ),
    w{k + 1} AS MATERIALIZED (
      SELECT word, cnt,
             replace(replace(replace(sym, ' ', '  '),
                     ' ' || (SELECT lft FROM m{k}) || '  '
                         || (SELECT rgt FROM m{k}) || ' ',
                     ' ' || (SELECT lft FROM m{k})
                         || (SELECT rgt FROM m{k}) || ' '),
                     '  ', ' ') AS sym
      FROM w{k}
    )"""
        )
    sel = "\n    UNION ALL ".join(
        f"SELECT {k + 1} AS merge_round, lft, rgt, pair_count FROM m{k}"
        for k in range(_BPE_MERGES)
    )
    return (
        "WITH "
        + ",\n    ".join(ctes)
        + f"""
    SELECT CAST(merge_round AS BIGINT) AS merge_round, lft, rgt,
           CAST(pair_count AS BIGINT) AS pair_count
    FROM ({sel}) ORDER BY merge_round
    """
    )


@_q("bpe_merge_train", _sql_bpe())
def q_bpe_merge_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents")
    words = (
        docs.select(
            F.explode(
                F.split(F.lower(F.col("text")), "[^a-z0-9]+")
            ).alias("word")
        )
        .where(F.col("word") != "")
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    w = words.withColumn(
        "sym",
        F.concat(F.lit(" "), F.regexp_replace(F.col("word"), "(.)", "$1 ")),
    ).localCheckpoint()

    merges = []
    for k in range(_BPE_MERGES):
        pairs = (
            w.withColumn("l", F.split(F.trim(F.col("sym")), " "))
            # single-symbol words yield no pairs; also guards Spark's
            # sequence(1, 0), which counts DOWN instead of emptying
            .where(F.size(F.col("l")) >= 2)
            .select(
                "cnt",
                F.explode(
                    F.expr(
                        "transform(sequence(1, size(l) - 1), "
                        "i -> struct(element_at(l, i) AS lft, "
                        "element_at(l, i + 1) AS rgt))"
                    )
                ).alias("p"),
            )
            .groupBy(F.col("p.lft").alias("lft"), F.col("p.rgt").alias("rgt"))
            .agg(F.sum("cnt").alias("pair_count"))
        )
        best = pairs.orderBy(
            F.desc("pair_count"), F.asc("lft"), F.asc("rgt")
        ).first()
        merges.append((k + 1, best.lft, best.rgt, best.pair_count))
        doubled = F.replace(F.col("sym"), F.lit(" "), F.lit("  "))
        merged = F.replace(
            doubled,
            F.lit(f" {best.lft}  {best.rgt} "),
            F.lit(f" {best.lft}{best.rgt} "),
        )
        w = w.withColumn(
            "sym", F.replace(merged, F.lit("  "), F.lit(" "))
        ).localCheckpoint()

    return spark.createDataFrame(
        merges, "merge_round bigint, lft string, rgt string, pair_count bigint"
    ).orderBy("merge_round")


# ---------------------------------------------------------------------------
# BPE ENCODE: apply the trained merge table corpus-wide and report the
# compression — tokens-per-word before (characters) and after the 8
# merges, per language. Completes the tokenizer story (train above,
# encode here): the merge literals come from the same argmax rounds,
# the application is the same double-space replace fold, and the
# report aggregates Σ cnt·|symbols| over word TYPES — the corpus
# itself is touched once (the type-count aggregation).
@_q(
    "bpe_encode_corpus",
    # reuse the training CTE chain: w{K} is the fully-merged type table
    _sql_bpe().split("SELECT CAST(merge_round")[0]
    + f"""
    , wordsl AS MATERIALIZED (
      SELECT lang, word, COUNT(*) AS cnt FROM (
        SELECT lang,
               unnest(string_split_regex(lower(text), '[^a-z0-9]+')) AS word
        FROM documents
      ) WHERE word <> '' GROUP BY lang, word
    )
    SELECT wl.lang,
           CAST(SUM(wl.cnt) AS BIGINT) AS n_words,
           CAST(SUM(wl.cnt * length(wl.word)) AS BIGINT) AS char_tokens,
           CAST(SUM(wl.cnt * len(string_split(trim(w.sym), ' '))) AS BIGINT)
             AS bpe_tokens,
           round(CAST(SUM(wl.cnt * length(wl.word)) AS DOUBLE)
                 / SUM(wl.cnt * len(string_split(trim(w.sym), ' '))), 6)
             AS compression
    FROM wordsl wl JOIN w{_BPE_MERGES} w ON w.word = wl.word
    GROUP BY wl.lang ORDER BY wl.lang
    """,
)
def q_bpe_encode_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents")
    # train (same rounds as bpe_merge_train, on the global type table)
    words = (
        docs.select(
            F.explode(F.split(F.lower(F.col("text")), "[^a-z0-9]+")).alias("word")
        )
        .where(F.col("word") != "")
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    w = words.withColumn(
        "sym",
        F.concat(F.lit(" "), F.regexp_replace(F.col("word"), "(.)", "$1 ")),
    ).localCheckpoint()
    for _ in range(_BPE_MERGES):
        pairs = (
            w.withColumn("l", F.split(F.trim(F.col("sym")), " "))
            .where(F.size(F.col("l")) >= 2)
            .select(
                "cnt",
                F.explode(
                    F.expr(
                        "transform(sequence(1, size(l) - 1), "
                        "i -> struct(element_at(l, i) AS lft, "
                        "element_at(l, i + 1) AS rgt))"
                    )
                ).alias("p"),
            )
            .groupBy(F.col("p.lft").alias("lft"), F.col("p.rgt").alias("rgt"))
            .agg(F.sum("cnt").alias("pair_count"))
        )
        best = pairs.orderBy(
            F.desc("pair_count"), F.asc("lft"), F.asc("rgt")
        ).first()
        doubled = F.replace(F.col("sym"), F.lit(" "), F.lit("  "))
        merged = F.replace(
            doubled,
            F.lit(f" {best.lft}  {best.rgt} "),
            F.lit(f" {best.lft}{best.rgt} "),
        )
        w = w.withColumn(
            "sym", F.replace(merged, F.lit("  "), F.lit(" "))
        ).localCheckpoint()

    wordsl = (
        docs.select(
            "lang",
            F.explode(F.split(F.lower(F.col("text")), "[^a-z0-9]+")).alias("word"),
        )
        .where(F.col("word") != "")
        .groupBy("lang", "word")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    enc = wordsl.join(
        F.broadcast(
            w.select(
                "word", F.size(F.split(F.trim(F.col("sym")), " ")).alias("n_sym")
            )
        ),
        "word",
    )
    return (
        enc.groupBy("lang")
        .agg(
            F.sum("cnt").cast("bigint").alias("n_words"),
            F.sum(F.col("cnt") * F.length("word")).cast("bigint").alias("char_tokens"),
            F.sum(F.col("cnt") * F.col("n_sym")).cast("bigint").alias("bpe_tokens"),
            F.round(
                F.sum(F.col("cnt") * F.length("word")).cast("double")
                / F.sum(F.col("cnt") * F.col("n_sym")),
                6,
            ).alias("compression"),
        )
        .orderBy("lang")
    )


# ---------------------------------------------------------------------------
# Heaps' law vocabulary growth: |vocab(N)| at corpus prefixes N (by
# doc_id order) plus the fitted Heaps exponent beta from the first/
# last checkpoint pair (V = K * n^beta -> beta = ln(V2/V1)/ln(n2/n1)).
# The whole curve comes from ONE corpus pass: each token type's FIRST
# document (min doc_id) decides which prefixes count it, so vocab(N)
# = #{types: first_doc < N} — no per-prefix rescans. The companion to
# zipf_fit_vocab: together they say whether a corpus grows vocabulary
# like natural text (beta ~ 0.4-0.6) or is template-saturated.
_HEAPS_CHECKPOINTS = (100, 200, 300, 400, 500)


def _sql_heaps() -> str:
    cps = ", ".join(f"({n})" for n in _HEAPS_CHECKPOINTS)
    return f"""
    WITH firsts AS (
      SELECT tok, min(doc_id) AS first_doc, COUNT(*) AS cnt FROM (
        SELECT doc_id,
               unnest(string_split_regex(lower(text), '[^a-z0-9]+')) AS tok
        FROM documents
      ) WHERE tok <> '' GROUP BY tok
    ),
    toks AS (
      SELECT doc_id, COUNT(*) AS n_toks FROM (
        SELECT doc_id,
               unnest(string_split_regex(lower(text), '[^a-z0-9]+')) AS tok
        FROM documents
      ) WHERE tok <> '' GROUP BY doc_id
    ),
    cps(n_docs) AS (VALUES {cps}),
    curve AS (
      SELECT c.n_docs,
             (SELECT COUNT(*) FROM firsts f WHERE f.first_doc < c.n_docs)
               AS vocab_size,
             (SELECT CAST(SUM(n_toks) AS BIGINT) FROM toks t
              WHERE t.doc_id < c.n_docs) AS corpus_tokens
      FROM cps c
    ),
    fit AS (
      SELECT ln(CAST(b.vocab_size AS DOUBLE) / a.vocab_size)
             / ln(CAST(b.corpus_tokens AS DOUBLE) / a.corpus_tokens) AS beta
      FROM curve a, curve b
      WHERE a.n_docs = {_HEAPS_CHECKPOINTS[0]}
        AND b.n_docs = {_HEAPS_CHECKPOINTS[-1]}
    )
    SELECT CAST(c.n_docs AS BIGINT) AS n_docs,
           CAST(c.vocab_size AS BIGINT) AS vocab_size,
           c.corpus_tokens,
           round(f.beta, 6) AS heaps_beta
    FROM curve c CROSS JOIN fit f
    ORDER BY n_docs
    """


@_q("heaps_law_vocab_growth", _sql_heaps())
def q_heaps_law_vocab_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        F.explode(F.split(F.lower(F.col("text")), "[^a-z0-9]+")).alias("tok"),
    ).where(F.col("tok") != "")
    firsts = toks.groupBy("tok").agg(F.min("doc_id").alias("first_doc"))
    per_doc = toks.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_toks"))
    cps = docs.sparkSession.createDataFrame(
        [(n,) for n in _HEAPS_CHECKPOINTS], "n_docs bigint"
    )
    curve = (
        F.broadcast(cps)
        .join(firsts, firsts.first_doc < cps.n_docs)
        .groupBy("n_docs")
        .agg(F.count(F.lit(1)).alias("vocab_size"))
        .join(
            F.broadcast(cps)
            .join(per_doc, per_doc.doc_id < cps.n_docs)
            .groupBy("n_docs")
            .agg(F.sum("n_toks").cast("bigint").alias("corpus_tokens")),
            "n_docs",
        )
        .localCheckpoint(eager=True)  # curve feeds output AND the fit
    )
    a = curve.where(F.col("n_docs") == _HEAPS_CHECKPOINTS[0]).select(
        F.col("vocab_size").alias("v1"), F.col("corpus_tokens").alias("t1")
    )
    b = curve.where(F.col("n_docs") == _HEAPS_CHECKPOINTS[-1]).select(
        F.col("vocab_size").alias("v2"), F.col("corpus_tokens").alias("t2")
    )
    fit = a.crossJoin(b).select(
        (
            F.log(F.col("v2").cast("double") / F.col("v1"))
            / F.log(F.col("t2").cast("double") / F.col("t1"))
        ).alias("beta")
    )
    return (
        curve.crossJoin(F.broadcast(fit))
        .select(
            F.col("n_docs").cast("bigint").alias("n_docs"),
            F.col("vocab_size").cast("bigint").alias("vocab_size"),
            "corpus_tokens",
            F.round("beta", 6).alias("heaps_beta"),
        )
        .orderBy("n_docs")
    )


# ---------------------------------------------------------------------------
# Interpolated Kneser-Ney bigram smoothing (Kneser & Ney 1995; Chen &
# Goodman 1999 empirical form, fixed discount D=0.75) — the standard
# n-gram LM estimator, and the LM-tier step past raw conditional
# probabilities: P(w2|w1) = max(c(w1w2)-D, 0)/c(w1.) +
# (D/c(w1.)) * N1+(w1.) * Pcont(w2), with the continuation
# probability Pcont(w2) = N1+(.w2) / |distinct bigram types| built
# from TYPE counts, not token counts.
#
# Scale: the corpus reduces to the bigram TYPE table in one
# explode+groupBy pass (map-side partials); every other statistic
# (left/right type counts, the type total) is an aggregate over that
# table, so the corpus never re-shuffles. Determinism: all counts are
# integers; the smoothing formula is ONE fixed-shape float expression
# evaluated per row (casts at pinned points, round(...,6)).
_KN_D = 0.75


@_q(
    "kneser_ney_bigram",
    f"""
    WITH words AS (
      SELECT doc_id, {_SQL_WORDS} AS w FROM documents
    ), bi AS (
      SELECT w[i-1] AS w1, w[i] AS w2
      FROM words, LATERAL unnest(generate_series(2, len(w))) AS s(i)
      WHERE len(w) >= 2
    ), bc AS (
      SELECT w1, w2, COUNT(*) AS c FROM bi GROUP BY w1, w2
    ), uni AS (
      SELECT w1, SUM(c) AS c1, COUNT(*) AS n_follow FROM bc GROUP BY w1
    ), cont AS (
      SELECT w2, COUNT(*) AS n_precede FROM bc GROUP BY w2
    ), tot AS (
      SELECT CAST(COUNT(*) AS DOUBLE) AS n_types FROM bc
    )
    SELECT bc.w1, bc.w2, CAST(bc.c AS BIGINT) AS c_bigram,
           CAST(uni.c1 AS BIGINT) AS c_w1,
           CAST(uni.n_follow AS BIGINT) AS n_follow,
           CAST(cont.n_precede AS BIGINT) AS n_precede,
           round((GREATEST(CAST(bc.c AS DOUBLE) - {_KN_D}, 0.0)
                  + {_KN_D} * uni.n_follow
                    * (CAST(cont.n_precede AS DOUBLE) / (SELECT n_types FROM tot)))
                 / uni.c1, 6) AS kn_prob
    FROM bc JOIN uni USING (w1) JOIN cont USING (w2)
    ORDER BY bc.c DESC, bc.w1, bc.w2 LIMIT 20
    """,
)
def q_kneser_ney_bigram(spark: SparkSession, sf_dir: str) -> DataFrame:
    words = _words_df(spark, sf_dir).where(F.size("w") >= 2)
    bi = words.select(
        F.explode(
            F.expr(
                "transform(sequence(2, size(w)),"
                " i -> struct(element_at(w, i - 1) AS w1, element_at(w, i) AS w2))"
            )
        ).alias("bg")
    ).select("bg.w1", "bg.w2")
    bc = bi.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c"))
    bc = bc.localCheckpoint(eager=False)  # three aggregates below share it
    uni = bc.groupBy("w1").agg(
        F.sum("c").alias("c1"), F.count(F.lit(1)).alias("n_follow")
    )
    cont = bc.groupBy("w2").agg(F.count(F.lit(1)).alias("n_precede"))
    tot = bc.agg(F.count(F.lit(1)).cast("double").alias("n_types"))
    kn = (
        F.greatest(F.col("c").cast("double") - _KN_D, F.lit(0.0))
        + F.lit(_KN_D)
        * F.col("n_follow")
        * (F.col("n_precede").cast("double") / F.col("n_types"))
    ) / F.col("c1")
    return (
        bc.join(uni, "w1")
        .join(cont, "w2")
        .join(F.broadcast(tot))
        .select(
            "w1",
            "w2",
            F.col("c").cast("bigint").alias("c_bigram"),
            F.col("c1").cast("bigint").alias("c_w1"),
            F.col("n_follow").cast("bigint").alias("n_follow"),
            F.col("n_precede").cast("bigint").alias("n_precede"),
            F.round(kn, 6).alias("kn_prob"),
        )
        .orderBy(F.desc("c_bigram"), F.asc("w1"), F.asc("w2"))
        .limit(20)
    )


# ---------------------------------------------------------------------------
# OOV-rate vocabulary curve — the tokenizer-budget planning table
# (Heaps-law's operational twin: heaps_law_vocab_growth says how fast
# vocab grows, this says what a FIXED vocab misses): train = even
# doc_ids, held-out = odd; for each vocab size N in a literal sweep,
# vocab = top-N train words by (count DESC, word) — a deterministic
# total order — and the report is the held-out token OOV rate. Exact
# integers; the top-N boundary rides the bounded distinct-word spine
# (windowed rank over the aggregated word table, never raw tokens).
_OOV_SIZES = (100, 500, 1000, 2000)


def _sql_oov() -> str:
    sizes = ", ".join(f"({n})" for n in _OOV_SIZES)
    return f"""
    WITH toks AS (
      SELECT doc_id,
             unnest(string_split_regex(lower(text), '[^a-z0-9]+')) AS w
      FROM documents
    ),
    tk AS (SELECT doc_id, w FROM toks WHERE w <> ''),
    train AS (
      SELECT w, COUNT(*) AS c FROM tk WHERE doc_id % 2 = 0 GROUP BY w
    ),
    ranked AS (
      SELECT w, row_number() OVER (ORDER BY c DESC, w) AS rnk FROM train
    ),
    held AS (
      SELECT w, COUNT(*) AS c FROM tk WHERE doc_id % 2 = 1 GROUP BY w
    ),
    sizes(n) AS (VALUES {sizes})
    SELECT CAST(s.n AS BIGINT) AS vocab_size,
           CAST(SUM(h.c) AS BIGINT) AS n_tokens,
           CAST(SUM(CASE WHEN r.rnk IS NULL OR r.rnk > s.n
                    THEN h.c ELSE 0 END) AS BIGINT) AS n_oov,
           round(CAST(SUM(CASE WHEN r.rnk IS NULL OR r.rnk > s.n
                          THEN h.c ELSE 0 END) AS DOUBLE)
                 / SUM(h.c), 6) AS oov_rate
    FROM held h
    LEFT JOIN ranked r ON r.w = h.w
    CROSS JOIN sizes s
    GROUP BY s.n ORDER BY vocab_size
    """


@_q("oov_rate_by_vocab_size", _sql_oov())
def q_oov_rate_by_vocab_size(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents")
    tk = docs.select(
        "doc_id",
        F.explode(F.split(F.lower(F.col("text")), "[^a-z0-9]+")).alias("w"),
    ).where(F.col("w") != "")
    train = (
        tk.where(F.col("doc_id") % 2 == 0)
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    ranked = train.select(
        "w",
        F.row_number()
        .over(Window.orderBy(F.desc("c"), "w"))
        .alias("rnk"),  # bounded: the distinct-word table
    )
    held = (
        tk.where(F.col("doc_id") % 2 == 1)
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("hc"))
    )
    sizes = F.explode(
        F.array(*[F.lit(int(n)) for n in _OOV_SIZES])
    ).alias("n")
    j = held.join(ranked, "w", "left").select("hc", "rnk", sizes)
    oov = F.when(
        F.col("rnk").isNull() | (F.col("rnk") > F.col("n")), F.col("hc")
    ).otherwise(0)
    return (
        j.groupBy(F.col("n").cast("bigint").alias("vocab_size"))
        .agg(
            F.sum("hc").cast("bigint").alias("n_tokens"),
            F.sum(oov).cast("bigint").alias("n_oov"),
            F.round(
                F.sum(oov).cast("double") / F.sum("hc"), 6
            ).alias("oov_rate"),
        )
        .orderBy("vocab_size")
    )


# ---------------------------------------------------------------------------
# Shingle-novelty curve: what fraction of each corpus decile's 5-gram
# word shingles is seen THERE FIRST? The training-data freshness
# report — a decile whose novelty collapses is template/boilerplate
# saturated (complement of heaps_law_vocab_growth, which tracks
# unigram types). One corpus pass builds the per-doc distinct shingle
# sets; min(doc_id) per shingle decides novelty; deciles come from a
# broadcast max-doc scalar (integer DIV — no global window over the
# doc spine). Scale shape: everything after the explode+distinct is
# shingle-type-sized; no all-pairs anything.
@_q(
    "shingle_novelty_curve",
    f"""
    WITH words AS (
      SELECT doc_id, {_SQL_WORDS} AS w FROM documents
    ),
    sh AS (
      SELECT DISTINCT doc_id,
             concat_ws(' ', w[i], w[i+1], w[i+2], w[i+3], w[i+4]) AS s
      FROM words, LATERAL unnest(generate_series(1, len(w) - 4)) AS g(i)
      WHERE len(w) >= 5
    ),
    firsts AS (SELECT s, MIN(doc_id) AS fd FROM sh GROUP BY s),
    nd AS (SELECT MAX(doc_id) + 1 AS n FROM documents),
    j AS (
      SELECT sh.doc_id,
             CASE WHEN f.fd = sh.doc_id THEN 1 ELSE 0 END AS novel
      FROM sh JOIN firsts f ON f.s = sh.s
    )
    SELECT CAST(j.doc_id * 10 // nd.n AS BIGINT) AS decile,
           CAST(COUNT(DISTINCT j.doc_id) AS BIGINT) AS n_docs,
           CAST(COUNT(*) AS BIGINT) AS n_shingles,
           CAST(SUM(novel) AS BIGINT) AS n_novel,
           round(CAST(SUM(novel) AS DOUBLE) / COUNT(*), 6) AS novelty_ratio
    FROM j, nd
    GROUP BY 1 ORDER BY 1
    """,
)
def q_shingle_novelty_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    words = _words_df(spark, sf_dir)
    sh = (
        words.where(F.size("w") >= 5)
        .select(
            "doc_id",
            F.explode(
                # element_at is 1-BASED like DuckDB's w[i]; Spark's
                # bare w[i] is 0-based and strict, so it both skews
                # the window and throws at i+4 == size(w)
                F.expr(
                    "transform(sequence(1, size(w) - 4), i -> "
                    "concat_ws(' ', element_at(w, i), element_at(w, i+1), "
                    "element_at(w, i+2), element_at(w, i+3), "
                    "element_at(w, i+4)))"
                )
            ).alias("s"),
        )
        .distinct()
    )
    firsts = sh.groupBy("s").agg(F.min("doc_id").alias("fd"))
    nd = (
        t(spark, sf_dir, "documents")
        .agg((F.max("doc_id") + 1).alias("n"))
    )
    j = sh.join(firsts, "s").select(
        "doc_id",
        F.when(F.col("fd") == F.col("doc_id"), 1).otherwise(0).alias("novel"),
    )
    return (
        j.crossJoin(F.broadcast(nd))
        .groupBy(
            F.expr("CAST(doc_id * 10 DIV n AS BIGINT)").alias("decile")
        )
        .agg(
            F.countDistinct("doc_id").cast("bigint").alias("n_docs"),
            F.count(F.lit(1)).cast("bigint").alias("n_shingles"),
            F.sum("novel").cast("bigint").alias("n_novel"),
            F.round(
                F.sum("novel").cast("double") / F.count(F.lit(1)), 6
            ).alias("novelty_ratio"),
        )
        .orderBy("decile")
    )


# ---------------------------------------------------------------------------
# TextRank keyword extraction (Mihalcea & Tarau EMNLP 2004): weighted
# PageRank over the window-2 word co-occurrence graph, top-20 words.
# The graph reuses the pmi_cooccurrence pair stream (per-row array
# offsets, never a positional self-join) with a count floor that
# bounds the vocabulary graph; the rank recursion is the
# weighted_pagerank skeleton — transition mass proportional to edge
# weight over the source's total weight, per-iteration round(12)
# re-synchronization, TextRank's original (1-d) teleport constant
# (not (1-d)/n). Complements RAKE (phrase-delimiter statistics) with
# the graph-centrality notion of keyword salience.
_TR_ITERS = 6
_TR_DAMP = 0.85
_TR_MIN_COUNT = 30
_TR_TOP = 20


def _sql_textrank() -> str:
    d = _TR_DAMP
    ctes = [
        f"""words AS (
      SELECT doc_id, {_SQL_WORDS} AS w FROM documents
    ),
    ew AS MATERIALIZED (
      SELECT w1, w2, c_ab AS wt FROM (
        SELECT CASE WHEN w[i] <= w[i+off] THEN w[i] ELSE w[i+off] END AS w1,
               CASE WHEN w[i] <= w[i+off] THEN w[i+off] ELSE w[i] END AS w2,
               COUNT(*) AS c_ab
        FROM words,
             LATERAL unnest(generate_series(1, {_PMI_WINDOW})) AS o(off),
             LATERAL unnest(generate_series(1, len(w) - off)) AS s(i)
        GROUP BY 1, 2
      ) WHERE c_ab >= {_TR_MIN_COUNT} AND w1 <> w2
    ),
    wedges AS MATERIALIZED (
      SELECT w1 AS src, w2 AS dst, wt FROM ew
      UNION ALL SELECT w2, w1, wt FROM ew
    ),
    nodes AS MATERIALIZED (SELECT DISTINCT src AS node FROM wedges),
    wout AS MATERIALIZED (
      SELECT src AS node, CAST(SUM(wt) AS DOUBLE) AS tw
      FROM wedges GROUP BY src
    ),
    r0 AS MATERIALIZED (SELECT node, 1.0 AS rank FROM nodes)"""
    ]
    for k in range(_TR_ITERS):
        ctes.append(
            f"""r{k + 1} AS MATERIALIZED (
      SELECT nd.node,
             round((1.0 - {d})
                   + {d} * COALESCE(c.contrib, 0.0), 12) AS rank
      FROM nodes nd LEFT JOIN (
        SELECT e.dst AS node, SUM(r.rank * e.wt / o.tw) AS contrib
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
    SELECT node AS keyword, round(rank, 6) AS textrank
    FROM r{_TR_ITERS}
    ORDER BY round(rank, 6) DESC, node LIMIT {_TR_TOP}"""
    )


@_q("textrank_keywords", _sql_textrank())
def q_textrank_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.graphs import aggregate_messages
    from ..operators.spread import counted_checkpoint, spread_cpu

    # the window-pair explode is the CPU hot spot and otherwise fuses
    # into the single-split scan task; no-op at production split counts
    words = spread_cpu(_words_df(spark, sf_dir))
    pairs = (
        words.select(
            F.explode(
                F.expr(
                    f"flatten(transform(sequence(1, {_PMI_WINDOW}), off ->"
                    " CASE WHEN size(w) > off THEN"
                    " transform(sequence(1, size(w) - off), i ->"
                    " struct(CASE WHEN element_at(w, i) <= element_at(w, i + off)"
                    "   THEN element_at(w, i) ELSE element_at(w, i + off) END AS w1,"
                    " CASE WHEN element_at(w, i) <= element_at(w, i + off)"
                    "   THEN element_at(w, i + off) ELSE element_at(w, i) END AS w2))"
                    " ELSE array() END))"
                )
            ).alias("p")
        )
        .select(F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2"))
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("wt"))
        .where((F.col("wt") >= _TR_MIN_COUNT) & (F.col("w1") != F.col("w2")))
    )
    from pyspark.sql import Window

    # fold the (static) out-weight total INTO the edge table once —
    # the pagerank_suppliers discipline: an exact integer window sum
    # per src (order-free), so each round is ONE vector join + one
    # aggregate instead of two joins and two broadcasts
    wedges = (
        pairs.select(F.col("w1").alias("src"), F.col("w2").alias("dst"), "wt")
        .unionByName(
            pairs.select(F.col("w2").alias("src"), F.col("w1").alias("dst"), "wt")
        )
        .withColumn(
            "tw",
            F.sum("wt").over(Window.partitionBy("src")).cast("double"),
        )
        .localCheckpoint(eager=True)
    )
    # checkpoint the node set once (it feeds every round's left join);
    # its row count bounds the broadcast guard
    nodes, n_nodes = counted_checkpoint(
        wedges.select(F.col("src").alias("node")).distinct()
    )
    r = nodes.select("node", F.lit(1.0).alias("rank"))
    for _ in range(_TR_ITERS):
        # the rank vector is keyword-node metadata bounded by the
        # min-count-pruned co-occurrence vocab
        contrib = aggregate_messages(
            wedges,
            r,
            n_nodes,
            F.sum(F.col("rank") * F.col("wt") / F.col("tw")).alias("contrib"),
        )
        r = (
            nodes.join(contrib, "node", "left")
            .select(
                "node",
                F.round(
                    F.lit(1.0 - _TR_DAMP)
                    + _TR_DAMP * F.coalesce(F.col("contrib"), F.lit(0.0)),
                    12,
                ).alias("rank"),
            )
            .localCheckpoint(eager=True)  # bound per-iteration lineage
        )
    return (
        r.select(
            F.col("node").alias("keyword"), F.round("rank", 6).alias("textrank")
        )
        .orderBy(F.desc("textrank"), "keyword")
        .limit(_TR_TOP)
    )


# ---------------------------------------------------------------------------
# Huffman codebook cost — the OPTIMAL prefix-code bound for the
# corpus's top-32 word vocabulary, computed exactly: the classic
# greedy merge (always combine the two lightest subtrees) runs as a
# fold whose accumulator carries [cost, weights...] and re-sorts per
# step — total cost = sum of merge sums = weighted code length in
# bit-occurrences, a pure INTEGER. Reported against the Shannon
# entropy lower bound (1e-12-lattice log terms, decimal sum), giving
# the code's efficiency — the information-theoretic companion to
# char_entropy_quality/zipf_fit_vocab. Huffman cost is invariant to
# input order (the fold sorts), so the top-32 selection only needs a
# deterministic MEMBERSHIP rule (count desc, token).
_HUFF_K = 32


def _sql_huffman() -> str:
    return f"""
    WITH toks AS (
      SELECT unnest(string_split(text, ' ')) AS w FROM documents
    ),
    top AS (
      SELECT w, CAST(COUNT(*) AS BIGINT) AS c
      FROM toks WHERE w <> '' GROUP BY w
      ORDER BY c DESC, w LIMIT {_HUFF_K}
    ),
    packed AS (
      SELECT list(c) AS ws, CAST(SUM(c) AS BIGINT) AS s,
             CAST(COUNT(*) AS BIGINT) AS k
      FROM top
    ),
    folded AS (
      SELECT s, k,
        list_reduce(
          [[CAST(0 AS BIGINT)] || ws]
            || list_transform(generate_series(1, k - 1),
                              j -> CAST([] AS BIGINT[])),
          (acc, it) -> [acc[1] + list_sort(acc[2:])[1]
                               + list_sort(acc[2:])[2]]
                       || list_sort(acc[2:])[3:]
                       || [list_sort(acc[2:])[1] + list_sort(acc[2:])[2]]
        )[1] AS cost
      FROM packed
    ),
    bound AS (
      SELECT CAST(SUM(CAST(round(c * log2(CAST(s AS DOUBLE) / c), 12)
                           AS DECIMAL(38,12))) AS DOUBLE) AS hbits
      FROM top CROSS JOIN packed
    )
    SELECT k AS n_symbols, s AS total_tokens,
           CAST(cost AS BIGINT) AS huffman_bits,
           round(hbits, 6) AS shannon_bound_bits,
           round(hbits / cost, 6) AS efficiency
    FROM folded CROSS JOIN bound
    """


@_q("huffman_code_cost", _sql_huffman())
def q_huffman_code_cost(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents")
    toks = docs.select(F.explode(F.split("text", " ")).alias("w")).where(
        F.col("w") != ""
    )
    counts = toks.groupBy("w").agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    from pyspark.sql import Window as W

    rn = F.row_number().over(W.orderBy(F.desc("c"), "w"))
    top = counts.withColumn("rn", rn).where(F.col("rn") <= _HUFF_K)
    packed = top.groupBy().agg(
        F.collect_list("c").alias("ws"),
        F.sum("c").cast("bigint").alias("s"),
        F.count(F.lit(1)).cast("bigint").alias("k"),
    )
    acc0 = F.concat(
        F.array(F.lit(0).cast("bigint")), F.col("ws")
    )

    def step(acc, _it):
        rest = F.array_sort(F.slice(acc, 2, F.size(acc) - 1))
        merged = F.element_at(rest, 1) + F.element_at(rest, 2)
        return F.concat(
            F.array(F.element_at(acc, 1) + merged),
            F.slice(rest, 3, F.greatest(F.size(rest) - 2, F.lit(0))),
            F.array(merged),
        )

    cost = F.element_at(
        F.aggregate(
            F.sequence(F.lit(1), (F.col("k") - 1).cast("int")), acc0, step
        ),
        1,
    )
    hterm = F.round(
        F.col("c")
        * F.log2(F.col("s").cast("double") / F.col("c")),
        12,
    ).cast("decimal(38,12)")
    bound = top.crossJoin(F.broadcast(packed.select("s"))).agg(
        F.sum(hterm).cast("double").alias("hbits")
    )
    return (
        packed.select(
            F.col("k").alias("n_symbols"),
            F.col("s").alias("total_tokens"),
            cost.cast("bigint").alias("huffman_bits"),
        )
        .crossJoin(F.broadcast(bound))
        .select(
            "n_symbols",
            "total_tokens",
            "huffman_bits",
            F.round(F.col("hbits"), 6).alias("shannon_bound_bits"),
            F.round(F.col("hbits") / F.col("huffman_bits"), 6).alias(
                "efficiency"
            ),
        )
    )
