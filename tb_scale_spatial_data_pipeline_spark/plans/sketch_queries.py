"""Deterministic sketch structures: KMV distinct-count estimation and
a Bloom-filter semi-join prefilter.

Unlike approx_count_distinct / native Bloom pushdown (engine-private
sketches a cross-engine oracle can't reproduce), both structures here
are built from explicit md5-derived hashes, so DuckDB computes the
IDENTICAL sketch and the driver hash-checks the whole path, not just
the final answer.

- KMV (k minimum values): the distinct count of a key is estimated by
  (k-1)/h_(k) where h_(k) is the k-th smallest hash mapped to (0,1] —
  the bottom-k sketch (Bar-Yossef et al. 2002, public literature).
  The sketch is mergeable (union = min-k of unions), which is what
  makes it the distributed cardinality primitive: partials carry k
  values regardless of partition size.
- Bloom prefilter: the standard shuffle-reduction for a selective
  dim-fact join at 100 TB — build m-bit filter from the dim keys
  (two hash positions per key), broadcast it, drop fact rows that
  miss, THEN do the exact join. False positives only cost work; the
  ORACLE IS THE PLAIN JOIN, so the hash match proves the filter
  never false-drops.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ._util import t, registry

QUERIES, ORACLES, _q = registry()


_KMV_K = 64
# 15 hex chars -> 60-bit int; divide by 16^15 to map into (0, 1]
_HEX_DEN = float(16**15)


def _spark_hash_frac(col):
    return (
        F.conv(F.substring(F.md5(col.cast("string")), 1, 15), 16, 10).cast(
            "double"
        )
        / F.lit(_HEX_DEN)
    )


def _sql_hash_frac(expr: str) -> str:
    return (
        f"CAST(('0x' || substring(md5(CAST({expr} AS VARCHAR)), 1, 15)) AS BIGINT)"
        f" / {_HEX_DEN!r}"
    )


@_q(
    "kmv_distinct_estimate",
    f"""
    WITH h AS (
      SELECT DISTINCT {_sql_hash_frac("o_custkey")} AS frac FROM orders
    ),
    bottomk AS (SELECT frac FROM h ORDER BY frac LIMIT {_KMV_K})
    SELECT {_KMV_K} AS k,
           round(MAX(frac), 12) AS kth_hash,
           round(({_KMV_K} - 1) / MAX(frac), 3) AS est_distinct,
           (SELECT COUNT(DISTINCT o_custkey) FROM orders) AS true_distinct
    FROM bottomk
    """,
)
def q_kmv_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = t(spark, sf_dir, "orders")
    h = orders.select(
        _spark_hash_frac(F.col("o_custkey")).alias("frac")
    ).distinct()
    bottomk = h.orderBy("frac").limit(_KMV_K)
    truth = orders.agg(F.countDistinct("o_custkey").alias("true_distinct"))
    est = bottomk.agg(
        F.lit(_KMV_K).cast("int").alias("k"),
        F.round(F.max("frac"), 12).alias("kth_hash"),
        F.round((F.lit(_KMV_K) - 1) / F.max("frac"), 3).alias("est_distinct"),
    )
    return est.crossJoin(truth)  # two 1-row aggregates


_BLOOM_M = 4096


def _spark_bloom_pos(col, offset: int):
    return (
        F.conv(F.substring(F.md5(col.cast("string")), 1 + offset, 7), 16, 10)
        .cast("bigint")
        % _BLOOM_M
    )


@_q(
    "bloom_prefilter_join",
    # THE PLAIN JOIN: equality with the bloom-prefiltered plan proves
    # the filter admits every true match (false positives are removed
    # by the exact join; false negatives would show as missing rows)
    """
    SELECT l.l_suppkey AS s_suppkey,
           CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))
                    * (1 - CAST(l.l_discount AS DECIMAL(18,2))))
                AS DOUBLE) AS revenue,
           COUNT(*) AS n_lines
    FROM lineitem l
    JOIN supplier s ON s.s_suppkey = l.l_suppkey
    JOIN nation n ON n.n_nationkey = s.s_nationkey
    WHERE n.n_nationkey = 7
    GROUP BY l.l_suppkey
    """,
)
def q_bloom_prefilter_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    supp = (
        t(spark, sf_dir, "supplier")
        .where(F.col("s_nationkey") == 7)
        .select("s_suppkey")
    )
    positions = (
        supp.select(
            F.explode(
                F.array(
                    _spark_bloom_pos(F.col("s_suppkey"), 0),
                    _spark_bloom_pos(F.col("s_suppkey"), 8),
                )
            ).alias("pos")
        )
        .distinct()
    )
    li = t(spark, sf_dir, "lineitem").select(
        "l_suppkey", "l_extendedprice", "l_discount"
    )
    # both hash positions must be set — two broadcast semi-joins
    # against the (≤ 2·|dim|)-row position table; at 100 TB this is
    # where most fact rows die without shuffling
    p1 = positions.select(F.col("pos").alias("pos1"))
    p2 = positions.select(F.col("pos").alias("pos2"))
    pre = li.join(
        F.broadcast(p1),
        _spark_bloom_pos(F.col("l_suppkey"), 0) == F.col("pos1"),
        "left_semi",
    ).join(
        F.broadcast(p2),
        _spark_bloom_pos(F.col("l_suppkey"), 8) == F.col("pos2"),
        "left_semi",
    )
    exact = pre.join(
        F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey")
    )
    rev = F.col("l_extendedprice").cast("decimal(18,2)") * (
        F.lit(1) - F.col("l_discount").cast("decimal(18,2)")
    )
    return exact.groupBy(F.col("l_suppkey").alias("s_suppkey")).agg(
        F.sum(rev).cast("double").alias("revenue"),
        F.count(F.lit(1)).alias("n_lines"),
    )


# ---------------------------------------------------------------------------
# Count-min sketch heavy-hitter estimation: d=4 rows × w=256 counters,
# hash positions from disjoint md5 substrings; the estimate for a key
# is the MIN over its d counters (CM's one-sided overestimate,
# Cormode-Muthukrishnan 2005, public literature). The sketch build is
# one groupBy over (row, position) — map-side combinable, d×w cells
# total regardless of input size — which is why CMS is the streaming/
# distributed frequency primitive. Estimates are exact-compared to
# true counts for the 5 event types (w=256 >> 5 keys ⇒ collisions
# possible but deterministic — the oracle builds the identical sketch).
_CMS_D = 4
_CMS_W = 256


def _cms_pos_sql(expr: str, row: int) -> str:
    return (
        f"CAST(('0x' || substring(md5(CAST({expr} AS VARCHAR)),"
        f" {1 + 8 * row}, 7)) AS BIGINT) % {_CMS_W}"
    )


def _cms_pos_spark(col, row: int):
    return (
        F.conv(F.substring(F.md5(col.cast("string")), 1 + 8 * row, 7), 16, 10)
        .cast("bigint")
        % _CMS_W
    )


def _sql_countmin() -> str:
    cells = " UNION ALL ".join(
        f"SELECT {r} AS row, {_cms_pos_sql('event_type', r)} AS pos,"
        " COUNT(*) AS c FROM events GROUP BY 2"
        for r in range(_CMS_D)
    )
    probes = " UNION ALL ".join(
        f"SELECT k.event_type, {r} AS row, {_cms_pos_sql('k.event_type', r)}"
        " AS pos FROM keys k"
        for r in range(_CMS_D)
    )
    return f"""
    WITH sketch AS ({cells}),
    keys AS (SELECT DISTINCT event_type FROM events),
    probe AS ({probes}),
    est AS (
      SELECT p.event_type, MIN(s.c) AS cm_estimate
      FROM probe p JOIN sketch s ON s.row = p.row AND s.pos = p.pos
      GROUP BY p.event_type
    ),
    truth AS (SELECT event_type, COUNT(*) AS true_count
              FROM events GROUP BY event_type)
    SELECT e.event_type, e.cm_estimate, t.true_count
    FROM est e JOIN truth t ON t.event_type = e.event_type
    """


@_q("countmin_heavy_hitters", _sql_countmin())
def q_countmin(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events")
    cells = None
    for r in range(_CMS_D):
        cell = ev.groupBy(
            F.lit(r).cast("int").alias("row"),
            _cms_pos_spark(F.col("event_type"), r).alias("pos"),
        ).agg(F.count(F.lit(1)).alias("c"))
        cells = cell if cells is None else cells.unionByName(cell)
    keys = ev.select("event_type").distinct()
    probes = None
    for r in range(_CMS_D):
        p = keys.select(
            "event_type",
            F.lit(r).cast("int").alias("row"),
            _cms_pos_spark(F.col("event_type"), r).alias("pos"),
        )
        probes = p if probes is None else probes.unionByName(p)
    est = (
        probes.join(cells, ["row", "pos"])
        .groupBy("event_type")
        .agg(F.min("c").alias("cm_estimate"))
    )
    truth = ev.groupBy(F.col("event_type").alias("tkey")).agg(
        F.count(F.lit(1)).alias("true_count")
    )
    return est.join(truth, F.col("event_type") == F.col("tkey")).select(
        "event_type", "cm_estimate", "true_count"
    )


# ---------------------------------------------------------------------------
# HyperLogLog (Flajolet et al. 2007): the production distributed
# cardinality sketch. approx_count_distinct uses an engine-private
# HLL, so (as with KMV above) the registers here are built from
# explicit md5 bits both engines can reproduce: bucket = first 8 md5
# bits (m=256), rho = leading-zero count of the next 40 bits + 1.
# Register maxima are integer (order-independent partials that
# combine map-side — the whole sketch is 256 bytes per partition at
# any scale); the harmonic sum is kept on the integer lattice as
# S = sum(2^(41-M)) in BIGINT, so the only float math is the final
# alpha*m^2*2^41/S expression, identical both engines. Linear-
# counting small-range branch included (never fires on this fixture:
# true distinct >> 2.5m).
_HLL_M = 256
_HLL_TWO41 = 2199023255552.0  # 2^41, exact double


def _sql_hll() -> str:
    v = "CAST(l_orderkey AS VARCHAR)"
    return f"""
    WITH h AS (
      SELECT CAST(('0x' || substring(md5({v}), 1, 2)) AS BIGINT) AS bucket,
             CAST(('0x' || substring(md5({v}), 3, 10)) AS BIGINT) AS w
      FROM lineitem
    ), regs AS (
      SELECT bucket,
             max(CASE WHEN w = 0 THEN 41 ELSE 41 - length(bin(w)) END) AS m
      FROM h GROUP BY bucket
    ), sk AS (
      SELECT SUM(CAST(1 AS BIGINT) << (41 - m)) AS s_used,
             COUNT(*) AS used
      FROM regs
    ), ex AS (
      SELECT COUNT(DISTINCT l_orderkey) AS exact_distinct FROM lineitem
    ), est AS (
      SELECT used, ({_HLL_M} - used) AS v_empty,
             0.7213 / (1.0 + 1.079 / {_HLL_M}.0) * {_HLL_M * _HLL_M}.0
               * {_HLL_TWO41}
               / (s_used + ({_HLL_M} - used) * CAST({int(_HLL_TWO41)} AS BIGINT))
               AS e_raw
      FROM sk
    )
    SELECT CAST(used AS BIGINT) AS buckets_used,
           round(CASE WHEN e_raw <= 2.5 * {_HLL_M} AND v_empty > 0
                      THEN {_HLL_M}.0 * ln({_HLL_M}.0 / v_empty)
                      ELSE e_raw END, 4) AS hll_estimate,
           exact_distinct,
           round((CASE WHEN e_raw <= 2.5 * {_HLL_M} AND v_empty > 0
                       THEN {_HLL_M}.0 * ln({_HLL_M}.0 / v_empty)
                       ELSE e_raw END - exact_distinct) / exact_distinct, 6)
             AS rel_err
    FROM est, ex
    """


@_q("hll_distinct_estimate", _sql_hll())
def q_hll_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem")
    v = F.col("l_orderkey").cast("string")
    h = li.select(
        F.conv(F.substring(F.md5(v), 1, 2), 16, 10).cast("bigint").alias("bucket"),
        F.conv(F.substring(F.md5(v), 3, 10), 16, 10).cast("bigint").alias("w"),
    )
    rho = F.when(F.col("w") == 0, 41).otherwise(
        41 - F.length(F.bin(F.col("w")))
    )
    regs = h.groupBy("bucket").agg(F.max(rho).alias("m"))
    sk = regs.agg(
        F.sum(F.expr("shiftleft(cast(1 as bigint), 41 - m)")).alias("s_used"),
        F.count(F.lit(1)).alias("used"),
    )
    ex = li.agg(F.count_distinct(F.col("l_orderkey")).alias("exact_distinct"))
    v_empty = _HLL_M - F.col("used")
    e_raw = (
        F.lit(0.7213)
        / (F.lit(1.0) + F.lit(1.079) / _HLL_M)
        * (_HLL_M * _HLL_M)
        * _HLL_TWO41
        / (F.col("s_used") + v_empty * F.lit(int(_HLL_TWO41)))
    )
    est = (
        F.when(
            (e_raw <= 2.5 * _HLL_M) & (v_empty > 0),
            _HLL_M * F.log(_HLL_M / v_empty.cast("double")),
        ).otherwise(e_raw)
    )
    return (
        sk.crossJoin(F.broadcast(ex))
        .select(
            F.col("used").cast("bigint").alias("buckets_used"),
            F.round(est, 4).alias("hll_estimate"),
            "exact_distinct",
            F.round(
                (est - F.col("exact_distinct")) / F.col("exact_distinct"), 6
            ).alias("rel_err"),
        )
    )


# ---------------------------------------------------------------------------
# Group-wise HLL + sketch MERGE: per-event-type distinct-user
# registers, then the per-type sketches merged (bucket-wise max) into
# one global sketch WITHOUT re-scanning the fact table — the mergeable-
# sketch property that makes HLL the 100 TB rollup workhorse (per-
# partition/per-day sketches fold into any coarser grain). Registers
# are the repo's md5-explicit HLL (engine-reproducible); the MERGED row
# must equal an HLL built directly on the union because max is
# associative-commutative — asserted cross-engine by the hash match
# and locally by test_hll_merge_equals_direct.
def _sql_hll_groupwise() -> str:
    v = "CAST(user_id AS VARCHAR)"
    est = (
        f"0.7213 / (1.0 + 1.079 / {_HLL_M}.0) * {_HLL_M * _HLL_M}.0"
        f" * {_HLL_TWO41}"
        f" / (s_used + ({_HLL_M} - used) * CAST({int(_HLL_TWO41)} AS BIGINT))"
    )
    lin = f"{_HLL_M}.0 * ln({_HLL_M}.0 / ({_HLL_M} - used))"
    pick = (
        f"CASE WHEN ({est}) <= 2.5 * {_HLL_M} AND used < {_HLL_M}"
        f" THEN ({lin}) ELSE ({est}) END"
    )
    return f"""
    WITH h AS (
      SELECT event_type,
             CAST(('0x' || substring(md5({v}), 1, 2)) AS BIGINT) AS bucket,
             CAST(('0x' || substring(md5({v}), 3, 10)) AS BIGINT) AS w
      FROM events
    ), regs AS MATERIALIZED (
      SELECT event_type, bucket,
             max(CASE WHEN w = 0 THEN 41 ELSE 41 - length(bin(w)) END) AS m
      FROM h GROUP BY event_type, bucket
    ), merged AS (
      SELECT 'ALL' AS event_type, bucket, max(m) AS m
      FROM regs GROUP BY bucket
    ), sk AS (
      SELECT event_type,
             SUM(CAST(1 AS BIGINT) << (41 - m)) AS s_used,
             COUNT(*) AS used
      FROM (SELECT * FROM regs UNION ALL SELECT * FROM merged)
      GROUP BY event_type
    ), ex AS (
      SELECT event_type, COUNT(DISTINCT user_id) AS exact_distinct
      FROM events GROUP BY event_type
      UNION ALL
      SELECT 'ALL', COUNT(DISTINCT user_id) FROM events
    )
    SELECT sk.event_type, CAST(used AS BIGINT) AS buckets_used,
           round({pick}, 4) AS hll_estimate, ex.exact_distinct
    FROM sk JOIN ex ON ex.event_type = sk.event_type
    """


@_q("hll_groupwise_merge", _sql_hll_groupwise())
def q_hll_groupwise_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events")
    v = F.col("user_id").cast("string")
    h = ev.select(
        "event_type",
        F.conv(F.substring(F.md5(v), 1, 2), 16, 10).cast("bigint").alias("bucket"),
        F.conv(F.substring(F.md5(v), 3, 10), 16, 10).cast("bigint").alias("w"),
    )
    rho = F.when(F.col("w") == 0, 41).otherwise(41 - F.length(F.bin(F.col("w"))))
    regs = h.groupBy("event_type", "bucket").agg(F.max(rho).alias("m"))
    merged = regs.groupBy("bucket").agg(F.max("m").alias("m")).select(
        F.lit("ALL").alias("event_type"), "bucket", "m"
    )
    sk = (
        regs.unionByName(merged)
        .groupBy("event_type")
        .agg(
            F.sum(F.expr("shiftleft(cast(1 as bigint), 41 - m)")).alias("s_used"),
            F.count(F.lit(1)).alias("used"),
        )
    )
    ex = (
        ev.groupBy("event_type")
        .agg(F.count_distinct("user_id").alias("exact_distinct"))
        .unionByName(
            ev.agg(F.count_distinct("user_id").alias("exact_distinct")).select(
                F.lit("ALL").alias("event_type"), "exact_distinct"
            )
        )
    )
    v_empty = _HLL_M - F.col("used")
    e_raw = (
        F.lit(0.7213)
        / (F.lit(1.0) + F.lit(1.079) / _HLL_M)
        * (_HLL_M * _HLL_M)
        * _HLL_TWO41
        / (F.col("s_used") + v_empty * F.lit(int(_HLL_TWO41)))
    )
    est = F.when(
        (e_raw <= 2.5 * _HLL_M) & (v_empty > 0),
        _HLL_M * F.log(_HLL_M / v_empty.cast("double")),
    ).otherwise(e_raw)
    return sk.join(F.broadcast(ex), "event_type").select(
        "event_type",
        F.col("used").cast("bigint").alias("buckets_used"),
        F.round(est, 4).alias("hll_estimate"),
        "exact_distinct",
    )


# ---------------------------------------------------------------------------
# DDSketch-style quantile sketch on an ALL-INTEGER bucket lattice:
# bucket = (bit_length(floor(v)), top-2 mantissa bits) — four
# sub-buckets per octave, i.e. relative accuracy gamma = 2^(1/4)
# (~19% worst-case), with ZERO transcendentals in the bucketing (a
# ln-based index could flip a boundary value between engines in the
# last ulp; bit arithmetic cannot). Bucket counts are map-side-
# combinable partials — the sketch is ~30 integers per partition at
# any scale and merges by addition, like the HLL registers. Quantile
# estimate = upper bound of the first bucket whose cumulative count
# reaches ceil(p*n), computed in exact integer arithmetic; the exact
# quantile rides along for the error report.
_DDS_PS = (50, 90, 99)  # percentiles, as integers


def _sql_dd_quantile() -> str:
    probes = ", ".join(
        f"({p}, (99 * 0 + {p}))" for p in _DDS_PS
    )  # (p, p) rows
    return f"""
    WITH base AS (
      SELECT CAST(floor(l_extendedprice) AS BIGINT) AS iv
      FROM lineitem
    ), bucketed AS (
      SELECT length(bin(iv)) AS e,
             (iv >> (length(bin(iv)) - 3)) & 3 AS m
      FROM base
    ), counts AS (
      SELECT e, m, COUNT(*) AS c FROM bucketed GROUP BY e, m
    ), cum AS (
      SELECT e, m, c,
             SUM(c) OVER (ORDER BY e, m ROWS UNBOUNDED PRECEDING) AS cumc,
             (1 << (e - 3)) * (4 + m + 1) AS ub
      FROM counts
    ), n AS (SELECT COUNT(*) AS n FROM base),
    probes(p) AS (VALUES ({'), ('.join(str(p) for p in _DDS_PS)})),
    hit AS (
      SELECT p, min(ub) AS est
      FROM probes, cum, n
      WHERE cumc >= (p * n.n + 99) // 100
      GROUP BY p
    ), ex AS (
      -- quantile_cont needs CONSTANT fractions: list form + lockstep unnest
      SELECT unnest([{', '.join(str(p) for p in _DDS_PS)}]) AS p,
             unnest([{', '.join(
                 f"round(quantile_cont(l_extendedprice, {p / 100.0}), 6)"
                 for p in _DDS_PS)}]) AS exact_q
      FROM lineitem
    )
    SELECT CAST(hit.p AS BIGINT) AS pct, CAST(hit.est AS DOUBLE) AS sketch_ub,
           ex.exact_q,
           round(CAST(hit.est AS DOUBLE) / ex.exact_q - 1.0, 6) AS rel_slack
    FROM hit JOIN ex ON ex.p = hit.p
    ORDER BY pct
    """


@_q("dd_quantile_sketch", _sql_dd_quantile())
def q_dd_quantile_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem")
    iv = F.floor(F.col("l_extendedprice")).cast("bigint")
    e = F.length(F.bin(iv))
    # python F.shiftright wants a literal shift; the SQL form takes an
    # expression shift amount
    m = F.expr(
        "shiftright(cast(floor(l_extendedprice) as bigint), "
        "cast(length(bin(cast(floor(l_extendedprice) as bigint))) - 3 as int)) & 3"
    )
    counts = (
        li.select(e.alias("e"), m.alias("m"))
        .groupBy("e", "m")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    cum = counts.select(
        "e",
        "m",
        "c",
        F.sum("c")
        .over(
            Window.orderBy("e", "m").rowsBetween(
                Window.unboundedPreceding, Window.currentRow
            )
        )
        .alias("cumc"),
        F.expr(
            "shiftleft(cast(1 as bigint), cast(e - 3 as int)) * (4 + m + 1)"
        ).alias("ub"),
    )
    n = li.agg(F.count(F.lit(1)).alias("n"))
    probes = li.sparkSession.createDataFrame(
        [(p,) for p in _DDS_PS], "p bigint"
    )
    hit = (
        F.broadcast(probes)
        .crossJoin(F.broadcast(n))
        .join(
            cum,
            F.col("cumc")
            >= F.floor((F.col("p") * F.col("n") + 99) / 100).cast("bigint"),
        )
        .groupBy("p")
        .agg(F.min("ub").alias("est"))
    )
    # percentile() wants a FOLDABLE fraction: one agg over a literal
    # array, then posexplode back to (p, exact_q) rows
    fracs = ", ".join(f"{p / 100.0}D" for p in _DDS_PS)
    ex = (
        li.agg(
            F.expr(f"percentile(l_extendedprice, array({fracs}))").alias("qs")
        )
        .select(F.posexplode("qs").alias("i", "q"))
        .select(
            F.element_at(
                F.array(*[F.lit(p) for p in _DDS_PS]), F.col("i") + 1
            )
            .cast("bigint")
            .alias("p"),
            F.round(F.col("q"), 6).alias("exact_q"),
        )
    )
    return (
        hit.join(ex, "p")
        .select(
            F.col("p").alias("pct"),
            F.col("est").cast("double").alias("sketch_ub"),
            "exact_q",
            F.round(F.col("est").cast("double") / F.col("exact_q") - 1.0, 6).alias(
                "rel_slack"
            ),
        )
        .orderBy("pct")
    )


# ---------------------------------------------------------------------------
# Join-size estimation from CMS inner products (Cormode-Muthukrishnan
# 2005 §4.2): |R ⋈ S on k| = Σ_k c_R(k)·c_S(k), and the inner product
# of two Count-Min rows built with the SAME hashes upper-bounds it —
# the estimate is the MIN over the d rows. This is "join cardinality
# without joining": each side reduces to d×w integer cells with
# map-side partials, so a planner (cf. join_strategy_advisor, which
# uses exact stats) can size a 100 TB join from two 4×256 sketches.
# The ground truth here is Σ c_o·c_c over per-key counts — the same
# number an actual join would produce, without materializing it.
# All arithmetic is integer; collisions are deterministic (md5), so
# the oracle rebuilds bit-identical sketches.
@_q(
    "cms_join_size_estimate",
    (lambda: f"""
    WITH o_cells AS ({" UNION ALL ".join(
        f"SELECT {r} AS row, {_cms_pos_sql('o_custkey', r)} AS pos,"
        " COUNT(*) AS c FROM orders GROUP BY 2"
        for r in range(_CMS_D)
    )}),
    c_cells AS ({" UNION ALL ".join(
        f"SELECT {r} AS row, {_cms_pos_sql('c_custkey', r)} AS pos,"
        " COUNT(*) AS c FROM customer GROUP BY 2"
        for r in range(_CMS_D)
    )}),
    ips AS (
      SELECT o.row, SUM(o.c * c.c) AS ip
      FROM o_cells o JOIN c_cells c ON c.row = o.row AND c.pos = o.pos
      GROUP BY o.row
    ),
    est AS (SELECT MIN(ip) AS cms_join_rows FROM ips),
    truth AS (
      SELECT SUM(oc.n * cc.n) AS exact_join_rows
      FROM (SELECT o_custkey AS k, COUNT(*) AS n FROM orders GROUP BY 1) oc
      JOIN (SELECT c_custkey AS k, COUNT(*) AS n FROM customer GROUP BY 1) cc
        ON cc.k = oc.k
    )
    SELECT CAST(cms_join_rows AS BIGINT) AS cms_join_rows,
           CAST(exact_join_rows AS BIGINT) AS exact_join_rows,
           round((CAST(cms_join_rows AS DOUBLE) - exact_join_rows)
                 / exact_join_rows, 6) AS rel_overestimate
    FROM est, truth
    """)(),
)
def q_cms_join_size(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = t(spark, sf_dir, "orders")
    cust = t(spark, sf_dir, "customer")

    def cells(df: DataFrame, key: str) -> DataFrame:
        rows = df.select(
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(r).alias("row"),
                            _cms_pos_spark(F.col(key), r).alias("pos"),
                        )
                        for r in range(_CMS_D)
                    ]
                )
            ).alias("cell")
        )
        return rows.groupBy("cell.row", "cell.pos").agg(
            F.count(F.lit(1)).alias("c")
        )
    o_cells = cells(orders, "o_custkey")
    c_cells = cells(cust, "c_custkey").select(
        F.col("row").alias("crow"), F.col("pos").alias("cpos"), F.col("c").alias("cc")
    )
    ips = (
        o_cells.join(
            c_cells,
            (F.col("row") == F.col("crow")) & (F.col("pos") == F.col("cpos")),
        )
        .groupBy("row")
        .agg(F.sum(F.col("c") * F.col("cc")).alias("ip"))
    )
    est = ips.agg(F.min("ip").alias("cms_join_rows"))
    oc = orders.groupBy(F.col("o_custkey").alias("k")).agg(
        F.count(F.lit(1)).alias("n_o")
    )
    cc = cust.groupBy(F.col("c_custkey").alias("k")).agg(
        F.count(F.lit(1)).alias("n_c")
    )
    truth = (
        oc.join(cc, "k")
        .agg(F.sum(F.col("n_o") * F.col("n_c")).alias("exact_join_rows"))
    )
    return (
        est.join(F.broadcast(truth))
        .select(
            F.col("cms_join_rows").cast("bigint").alias("cms_join_rows"),
            F.col("exact_join_rows").cast("bigint").alias("exact_join_rows"),
            F.round(
                (
                    F.col("cms_join_rows").cast("double")
                    - F.col("exact_join_rows")
                )
                / F.col("exact_join_rows"),
                6,
            ).alias("rel_overestimate"),
        )
    )


# ---------------------------------------------------------------------------
# Theta-sketch set intersection (Dasgupta et al. 2016): two KMV
# sketches (click users, purchase users) intersect WITHOUT touching
# the raw sets — theta = min(theta_a, theta_b), estimate =
# |S_a ∩ S_b below theta| / theta. The audit columns carry the exact
# truth (the fixture is small enough), so the row measures the
# sketch's own error — the "measured, not assumed" convention of the
# ANN tier applied to sketch set algebra. All hashes are the repo's
# md5 60-bit fraction (exact 2^-60 scaling, engine-identical), so
# sketch contents are deterministic and the estimate hash-checks
# bit-for-bit. At 100 TB each sketch is k=64 doubles per set — the
# intersection never joins the raw tables.
@_q(
    "theta_sketch_intersection",
    f"""
    WITH ha AS (
      SELECT DISTINCT {_sql_hash_frac("user_id")} AS frac
      FROM events WHERE event_type = 'click'
    ),
    hb AS (
      SELECT DISTINCT {_sql_hash_frac("user_id")} AS frac
      FROM events WHERE event_type = 'purchase'
    ),
    sa AS (SELECT frac FROM ha ORDER BY frac LIMIT {_KMV_K}),
    sb AS (SELECT frac FROM hb ORDER BY frac LIMIT {_KMV_K}),
    theta AS (
      SELECT LEAST((SELECT MAX(frac) FROM sa),
                   (SELECT MAX(frac) FROM sb)) AS th
    ),
    inter AS (
      SELECT COUNT(*) AS n_common
      FROM sa JOIN sb USING (frac), theta
      WHERE sa.frac < theta.th
    )
    SELECT {_KMV_K} AS k,
           round((SELECT th FROM theta), 12) AS theta,
           CAST((SELECT n_common FROM inter) AS BIGINT) AS n_common,
           round((SELECT n_common FROM inter) / (SELECT th FROM theta), 3)
             AS est_intersection,
           (SELECT COUNT(*) FROM (
              SELECT user_id FROM events WHERE event_type = 'click'
              INTERSECT
              SELECT user_id FROM events WHERE event_type = 'purchase'))
             AS true_intersection
    """,
)
def q_theta_sketch_intersection(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    ev = t(spark, sf_dir, "events")
    ha = (
        ev.where(F.col("event_type") == "click")
        .select(_spark_hash_frac(F.col("user_id")).alias("frac"))
        .distinct()
    )
    hb = (
        ev.where(F.col("event_type") == "purchase")
        .select(_spark_hash_frac(F.col("user_id")).alias("frac"))
        .distinct()
    )
    sa = ha.orderBy("frac").limit(_KMV_K).localCheckpoint(eager=True)
    sb = hb.orderBy("frac").limit(_KMV_K).localCheckpoint(eager=True)
    theta = (
        sa.agg(F.max("frac").alias("ta"))
        .crossJoin(sb.agg(F.max("frac").alias("tb")))
        .select(F.least("ta", "tb").alias("th"))
    )
    inter = (
        sa.join(sb, "frac")
        .crossJoin(F.broadcast(theta))
        .where(F.col("frac") < F.col("th"))
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    truth = (
        ev.where(F.col("event_type") == "click")
        .select("user_id")
        .intersect(ev.where(F.col("event_type") == "purchase").select("user_id"))
        .agg(F.count(F.lit(1)).alias("true_intersection"))
    )
    return (
        inter.crossJoin(F.broadcast(theta))
        .crossJoin(F.broadcast(truth))  # three 1-row aggregates
        .select(
            F.lit(_KMV_K).cast("int").alias("k"),
            F.round("th", 12).alias("theta"),
            F.col("n_common").cast("bigint").alias("n_common"),
            F.round(F.col("n_common") / F.col("th"), 3).alias(
                "est_intersection"
            ),
            F.col("true_intersection").cast("bigint").alias(
                "true_intersection"
            ),
        )
    )


# ---------------------------------------------------------------------------
# AMS F₂ sketch (Alon–Matias–Szegedy 1996) over the order-per-customer
# frequency stream: 16 ±1 sign estimators from md5-derived bits,
# X_j = Σ_k f_k·sign_j(k), estimate = median of the 16 X_j² —
# compared against the exact second frequency moment Σf². Everything
# is exact integer arithmetic (the md5 seam gives identical signs in
# both engines; X_j and F₂ are BIGINT; the even-count median averages
# two integers, exact in double). Plan: one groupBy(custkey) for
# frequencies, a 16-row broadcast estimator spine, one (estimator)
# re-aggregate — sketch-sized state, stream-shaped at any SF.
@_q(
    "ams_f2_sketch",
    """
    WITH freq AS (
      SELECT o_custkey AS k, CAST(COUNT(*) AS BIGINT) AS f
      FROM orders GROUP BY 1
    ),
    h AS (
      SELECT k, f,
             CAST(('0x' || substring(md5(CAST(k AS VARCHAR)), 1, 4))
                  AS INTEGER) AS h16
      FROM freq
    ),
    est AS (
      SELECT j.j,
             CAST(SUM(f * (2 * ((h16 // CAST(POWER(2, j.j) AS INTEGER)) % 2)
                           - 1)) AS BIGINT) AS x
      FROM h CROSS JOIN range(0, 16) j(j)
      GROUP BY 1
    ),
    ex AS (
      SELECT CAST(SUM(f * f) AS BIGINT) AS f2 FROM freq
    )
    SELECT (SELECT f2 FROM ex) AS true_f2,
           CAST(median(CAST(x AS DOUBLE) * x) AS DOUBLE) AS ams_estimate,
           round(abs(CAST(median(CAST(x AS DOUBLE) * x) AS DOUBLE)
                     - (SELECT f2 FROM ex))
                 / (SELECT f2 FROM ex), 6) AS rel_error
    FROM est
    """,
)
def q_ams_f2_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = t(spark, sf_dir, "orders")
    freq = o.groupBy(F.col("o_custkey").alias("k")).agg(
        F.count(F.lit(1)).cast("bigint").alias("f")
    )
    h = freq.withColumn(
        "h16",
        F.conv(F.substring(F.md5(F.col("k").cast("string")), 1, 4), 16, 10)
        .cast("int"),
    )
    js = spark.range(0, 16).select(F.col("id").cast("int").alias("j"))
    est = (
        h.crossJoin(F.broadcast(js))
        .groupBy("j")
        .agg(
            F.sum(
                F.col("f")
                * (
                    2
                    * F.expr(
                        "(h16 div CAST(POWER(2, j) AS INT)) % 2"
                    )
                    - 1
                )
            )
            .cast("bigint")
            .alias("x")
        )
    )
    ex = freq.agg(
        F.sum(F.col("f") * F.col("f")).cast("bigint").alias("f2")
    )
    med = est.agg(
        F.median(F.col("x").cast("double") * F.col("x")).alias("m")
    )
    return med.crossJoin(F.broadcast(ex)).select(
        F.col("f2").alias("true_f2"),
        F.col("m").cast("double").alias("ams_estimate"),
        F.round(
            F.abs(F.col("m").cast("double") - F.col("f2")) / F.col("f2"), 6
        ).alias("rel_error"),
    )
