"""Scalar-function breadth bundles (SURVEY §2.2 "free extensions"):
string, date, and math scalar surfaces exercised end-to-end with
oracle twins. Only functions with identical cross-engine semantics are
bundled; every float output goes through the usual rounding/decimal
discipline.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ._util import t, registry

QUERIES, ORACLES, _q = registry()


@_q(
    "string_functions",
    """
    SELECT p_partkey,
           upper(p_name) AS up,
           lower(p_brand) AS lo,
           substring(p_type, 2, 5) AS sub,
           lpad(p_brand, 12, '*') AS lp,
           rpad(p_brand, 12, '#') AS rp,
           replace(p_type, 'a', '@') AS repl,
           reverse(p_name) AS rev,
           CAST(length(p_name) AS INT) AS len,
           concat(p_brand, '/', p_type) AS cat,
           trim('  ' || p_brand || '  ') AS trimmed,
           contains(p_type, 'ano') AS has_ano,
           starts_with(p_name, 'p') AS starts_p
    FROM part
    """,
)
def q_string_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = t(spark, sf_dir, "part")
    return part.select(
        "p_partkey",
        F.upper("p_name").alias("up"),
        F.lower("p_brand").alias("lo"),
        F.substring("p_type", 2, 5).alias("sub"),
        F.lpad("p_brand", 12, "*").alias("lp"),
        F.rpad("p_brand", 12, "#").alias("rp"),
        F.replace(F.col("p_type"), F.lit("a"), F.lit("@")).alias("repl"),
        F.reverse("p_name").alias("rev"),
        F.length("p_name").alias("len"),
        F.concat(F.col("p_brand"), F.lit("/"), F.col("p_type")).alias("cat"),
        F.trim(F.concat(F.lit("  "), F.col("p_brand"), F.lit("  "))).alias("trimmed"),
        F.col("p_type").contains("ano").alias("has_ano"),
        F.col("p_name").startswith("p").alias("starts_p"),
    )


@_q(
    "date_functions",
    """
    SELECT o_orderkey,
           CAST(year(o_orderdate) AS INT) AS yr,
           CAST(month(o_orderdate) AS INT) AS mo,
           CAST(day(o_orderdate) AS INT) AS dy,
           CAST(dayofweek(o_orderdate) AS INT) AS dow,
           strftime(date_trunc('month', o_orderdate), '%Y-%m-%d') AS month_start,
           strftime(last_day(o_orderdate), '%Y-%m-%d') AS month_end,
           strftime(o_orderdate + INTERVAL '90 days', '%Y-%m-%d') AS plus90,
           CAST(datediff('day', TIMESTAMP '1995-01-01', o_orderdate) AS INT) AS days_since_epoch0,
           CAST(quarter(o_orderdate) AS INT) AS qtr
    FROM orders
    """,
)
def q_date_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = t(spark, sf_dir, "orders")
    d = F.col("o_orderdate")
    return orders.select(
        "o_orderkey",
        F.year(d).alias("yr"),
        F.month(d).alias("mo"),
        F.dayofmonth(d).alias("dy"),
        # Spark dayofweek: 1=Sunday; DuckDB dayofweek: 0=Sunday
        (F.dayofweek(d) - 1).alias("dow"),
        F.date_format(F.date_trunc("month", d), "yyyy-MM-dd").alias("month_start"),
        F.date_format(F.last_day(d), "yyyy-MM-dd").alias("month_end"),
        F.date_format(F.date_add(d.cast("date"), 90), "yyyy-MM-dd").alias("plus90"),
        F.datediff(d.cast("date"), F.lit("1995-01-01").cast("date")).alias(
            "days_since_epoch0"
        ),
        F.quarter(d).alias("qtr"),
    )


@_q(
    "math_functions",
    """
    WITH m AS (
      SELECT l_linenumber,
             abs(l_quantity - 25.0) AS absdev,
             CAST(ceil(l_quantity / 7.0) AS BIGINT) AS ceil7,
             CAST(floor(l_quantity / 7.0) AS BIGINT) AS floor7,
             round(sqrt(l_extendedprice), 6) AS sqrtp,
             round(ln(l_extendedprice + 1.0), 6) AS lnp,
             round(pow(l_discount, 2.0), 6) AS disc2,
             sign(l_quantity - 25.0) AS sgn,
             greatest(l_quantity, l_tax * 100.0) AS gr,
             least(l_quantity, l_tax * 100.0) AS le,
             CAST(l_quantity AS BIGINT) % 7 AS mod7
      FROM lineitem
    )
    SELECT l_linenumber, COUNT(*) AS n,
           CAST(SUM(CAST(absdev AS DECIMAL(28,6))) AS DOUBLE) AS s_absdev,
           CAST(SUM(ceil7) AS BIGINT) AS s_ceil7,
           CAST(SUM(floor7) AS BIGINT) AS s_floor7,
           CAST(SUM(CAST(sqrtp AS DECIMAL(28,6))) AS DOUBLE) AS s_sqrtp,
           CAST(SUM(CAST(lnp AS DECIMAL(28,6))) AS DOUBLE) AS s_lnp,
           CAST(SUM(CAST(disc2 AS DECIMAL(28,6))) AS DOUBLE) AS s_disc2,
           CAST(SUM(CAST(sgn AS DECIMAL(28,6))) AS DOUBLE) AS s_sgn,
           CAST(SUM(CAST(gr AS DECIMAL(28,6))) AS DOUBLE) AS s_gr,
           CAST(SUM(CAST(le AS DECIMAL(28,6))) AS DOUBLE) AS s_le,
           CAST(SUM(mod7) AS BIGINT) AS s_mod7
    FROM m GROUP BY l_linenumber
    """,
)
def q_math_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Every scalar math function still runs per lineitem row; the
    verified artifact is the per-linenumber decimal-exact SUM of each
    function's output (one wrong value anywhere breaks its group sum)
    — 7 rows to hash instead of |lineitem|."""
    li = t(spark, sf_dir, "lineitem")
    q = F.col("l_quantity")
    m = li.select(
        "l_linenumber",
        F.abs(q - 25.0).alias("absdev"),
        F.ceil(q / 7.0).alias("ceil7"),
        F.floor(q / 7.0).alias("floor7"),
        F.round(F.sqrt("l_extendedprice"), 6).alias("sqrtp"),
        F.round(F.log(F.col("l_extendedprice") + 1.0), 6).alias("lnp"),
        F.round(F.pow("l_discount", F.lit(2.0)), 6).alias("disc2"),
        F.signum(q - 25.0).alias("sgn"),
        F.greatest(q, F.col("l_tax") * 100.0).alias("gr"),
        F.least(q, F.col("l_tax") * 100.0).alias("le"),
        (q.cast("bigint") % 7).alias("mod7"),
    )
    dsum6 = lambda c: F.sum(F.col(c).cast("decimal(28,6)")).cast("double")
    return m.groupBy("l_linenumber").agg(
        F.count(F.lit(1)).alias("n"),
        dsum6("absdev").alias("s_absdev"),
        F.sum("ceil7").cast("bigint").alias("s_ceil7"),
        F.sum("floor7").cast("bigint").alias("s_floor7"),
        dsum6("sqrtp").alias("s_sqrtp"),
        dsum6("lnp").alias("s_lnp"),
        dsum6("disc2").alias("s_disc2"),
        dsum6("sgn").alias("s_sgn"),
        dsum6("gr").alias("s_gr"),
        dsum6("le").alias("s_le"),
        F.sum("mod7").cast("bigint").alias("s_mod7"),
    )


@_q(
    "array_functions",
    """
    SELECT vec_id,
           CAST(len(embedding) AS INT) AS dim,
           round(CAST(embedding[1] AS DOUBLE), 6) AS first_val,
           round(CAST(list_aggregate(embedding, 'max') AS DOUBLE), 6) AS max_val,
           round(CAST(list_aggregate(embedding, 'min') AS DOUBLE), 6) AS min_val,
           CAST(len(list_filter(embedding, x -> x > 0)) AS INT) AS n_pos,
           round(CAST(list_sort(embedding)[32] AS DOUBLE), 6) AS sorted_mid,
           round(CAST(list_aggregate(list_slice(embedding, 1, 8),
                                     'sum') AS DOUBLE), 6) AS head_sum
    FROM embeddings
    """,
)
def q_array_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = t(spark, sf_dir, "embeddings")
    e = F.col("embedding")
    return emb.select(
        "vec_id",
        F.size(e).alias("dim"),
        F.round(F.element_at(e, 1).cast("double"), 6).alias("first_val"),
        F.round(F.array_max(e).cast("double"), 6).alias("max_val"),
        F.round(F.array_min(e).cast("double"), 6).alias("min_val"),
        F.size(F.filter(e, lambda x: x > 0)).alias("n_pos"),
        F.round(F.element_at(F.sort_array(e), 32).cast("double"), 6).alias("sorted_mid"),
        F.round(
            F.aggregate(
                F.slice(e, 1, 8), F.lit(0.0), lambda a, x: a + x.cast("double")
            ),
            6,
        ).alias("head_sum"),
    )


@_q(
    "regexp_extract_all",
    r"""
    SELECT doc_id,
           CAST(len(regexp_extract_all(text, '[a-z]{5,}')) AS INT) AS n_long_words,
           CAST(len(regexp_extract_all(text, '\d+')) AS INT) AS n_numbers,
           array_to_string(list_slice(regexp_extract_all(text, '[a-z]{5,}'), 1, 3), ',') AS first3
    FROM documents
    """,
)
def q_regexp_extract_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents")
    long_words = F.regexp_extract_all("text", F.lit("[a-z]{5,}"), 0)
    numbers = F.regexp_extract_all("text", F.lit(r"\d+"), 0)
    return docs.select(
        "doc_id",
        F.size(long_words).alias("n_long_words"),
        F.size(numbers).alias("n_numbers"),
        F.array_join(F.slice(long_words, 1, 3), ",").alias("first3"),
    )


@_q(
    "window_value_functions",
    """
    SELECT o_orderkey, o_custkey,
           first_value(o_totalprice) OVER w AS first_price,
           last_value(o_totalprice) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                                          ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS last_price,
           round(percent_rank() OVER wp, 6) AS pct_rank,
           round(cume_dist() OVER wp, 6) AS cume,
           coalesce(lead(o_totalprice, 1) OVER w, -1.0) AS next_price
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey),
           wp AS (PARTITION BY o_custkey ORDER BY o_totalprice, o_orderkey)
    """,
)
def q_window_value_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    orders = t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    w_full = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    wp = Window.partitionBy("o_custkey").orderBy("o_totalprice", "o_orderkey")
    return orders.select(
        "o_orderkey",
        "o_custkey",
        F.first("o_totalprice").over(w).alias("first_price"),
        F.last("o_totalprice").over(w_full).alias("last_price"),
        F.round(F.percent_rank().over(wp), 6).alias("pct_rank"),
        F.round(F.cume_dist().over(wp), 6).alias("cume"),
        F.coalesce(F.lead("o_totalprice", 1).over(w), F.lit(-1.0)).alias("next_price"),
    )


@_q(
    "nested_json",
    """
    WITH nested AS (
      SELECT event_id,
             '{"meta": {"type": "' || event_type || '", "score": ' ||
             CAST(CAST(value AS DECIMAL(18,2)) AS VARCHAR) || '}, "tags": ["t1", "t2"]}' AS doc
      FROM events
    )
    SELECT event_id,
           json_extract_string(doc, '$.meta.type') AS mtype,
           CAST(json_extract_string(doc, '$.meta.score') AS DOUBLE) AS score,
           json_extract_string(doc, '$.tags[0]') AS tag0,
           json_extract_string(doc, '$.meta.missing') AS missing
    FROM nested
    """,
)
def q_nested_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events")
    doc = F.concat(
        F.lit('{"meta": {"type": "'),
        F.col("event_type"),
        F.lit('", "score": '),
        F.col("value").cast("decimal(18,2)").cast("string"),
        F.lit('}, "tags": ["t1", "t2"]}'),
    )
    nested = ev.select("event_id", doc.alias("doc"))
    return nested.select(
        "event_id",
        F.get_json_object("doc", "$.meta.type").alias("mtype"),
        F.get_json_object("doc", "$.meta.score").cast("double").alias("score"),
        F.get_json_object("doc", "$.tags[0]").alias("tag0"),
        F.get_json_object("doc", "$.meta.missing").alias("missing"),
    )


# ---------------------------------------------------------------------------
# Bitwise scalar surface: AND/OR/XOR/NOT/shifts over integer keys —
# identical two's-complement semantics on both engines.
@_q(
    "bitwise_functions",
    """
    SELECT l_orderkey,
           l_orderkey & 255 AS band,
           l_orderkey | 4096 AS orr,
           xor(l_orderkey, l_partkey) AS xo,
           ~l_orderkey AS inv,
           l_orderkey << 2 AS shl,
           l_orderkey >> 3 AS shr,
           CAST(bit_count(l_orderkey) AS INT) AS pop
    FROM lineitem WHERE l_linenumber = 1
    """,
)
def q_bitwise_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem").where(F.col("l_linenumber") == 1)
    k = F.col("l_orderkey")
    return li.select(
        "l_orderkey",
        k.bitwiseAND(F.lit(255)).alias("band"),
        k.bitwiseOR(F.lit(4096)).alias("orr"),
        k.bitwiseXOR(F.col("l_partkey")).alias("xo"),
        F.bitwise_not(k).alias("inv"),
        F.shiftleft(k, 2).alias("shl"),
        F.shiftright(k, 3).alias("shr"),
        F.bit_count(k).cast("int").alias("pop"),
    )


# ---------------------------------------------------------------------------
# Conditional scalar surface: nullif / ifnull / nvl2 / greatest /
# least / CASE chains — null-propagation semantics aligned.
@_q(
    "conditional_functions",
    """
    SELECT o_orderkey,
           nullif(o_orderstatus, 'O') AS null_o,
           ifnull(nullif(o_orderstatus, 'O'), 'open') AS backfilled,
           CASE WHEN nullif(o_orderstatus, 'O') IS NOT NULL
                THEN 'closed-ish' ELSE 'open' END AS nvl2_form,
           greatest(o_totalprice, 50000.0) AS floor50k,
           least(o_totalprice, 200000.0) AS cap200k,
           CASE WHEN o_totalprice < 75000 THEN 'S'
                WHEN o_totalprice < 150000 THEN 'M'
                ELSE 'L' END AS size_band
    FROM orders
    """,
)
def q_conditional_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = t(spark, sf_dir, "orders")
    null_o = F.nullif(F.col("o_orderstatus"), F.lit("O"))
    return o.select(
        "o_orderkey",
        null_o.alias("null_o"),
        F.ifnull(null_o, F.lit("open")).alias("backfilled"),
        F.nvl2(null_o, F.lit("closed-ish"), F.lit("open")).alias("nvl2_form"),
        F.greatest(F.col("o_totalprice"), F.lit(50000.0)).alias("floor50k"),
        F.least(F.col("o_totalprice"), F.lit(200000.0)).alias("cap200k"),
        F.when(F.col("o_totalprice") < 75000, "S")
        .when(F.col("o_totalprice") < 150000, "M")
        .otherwise("L")
        .alias("size_band"),
    )


# ---------------------------------------------------------------------------
# Map scalar surface: build from arrays, extract, keys/values,
# cardinality — scalarized outputs (DuckDB map_extract returns a
# 1-element list, hence the [1]).
@_q(
    "map_functions",
    """
    WITH m AS (
      SELECT event_id,
             map(['base', 'double', 'half'],
                 [CAST(value AS DECIMAL(18,2)),
                  CAST(value AS DECIMAL(18,2)) * 2,
                  CAST(value AS DECIMAL(18,2)) / 2]) AS mp
      FROM events
    )
    SELECT event_id,
           CAST(mp['double'][1] AS DOUBLE) AS v_double,
           CAST(cardinality(mp) AS INT) AS n_keys,
           array_to_string(map_keys(mp), ',') AS keys_csv,
           round(CAST(list_aggregate(map_values(mp), 'sum') AS DOUBLE), 6) AS v_sum
    FROM m
    """,
)
def q_map_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events")
    dec = F.col("value").cast("decimal(18,2)")
    mp = F.map_from_arrays(
        F.array(F.lit("base"), F.lit("double"), F.lit("half")),
        F.array(dec, dec * 2, dec / 2),
    )
    m = ev.select("event_id", mp.alias("mp"))
    return m.select(
        "event_id",
        F.element_at("mp", "double").cast("double").alias("v_double"),
        F.size("mp").alias("n_keys"),
        F.array_join(F.map_keys("mp"), ",").alias("keys_csv"),
        F.aggregate(
            F.map_values("mp"),
            F.lit(0).cast("decimal(28,6)"),
            # decimal addition widens precision each step; cast the
            # accumulator back so the fold type stays fixed (exact: 28,6
            # has ample headroom over the 3-value sum)
            lambda a, x: (a + x.cast("decimal(28,6)")).cast("decimal(28,6)"),
        )
        .cast("double")
        .alias("_vs"),
    ).withColumn("v_sum", F.round("_vs", 6)).drop("_vs")
