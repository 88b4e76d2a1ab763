"""Exact distributed order statistics + equal-frequency (ntile)
binning WITHOUT a global single-partition sort.

The problem: ``ntile(k) OVER (ORDER BY v)`` on a raw fact table plans
a single-partition WindowExec — every row moves through ONE task, the
one shape that cannot survive a 100 TB input (round-6 verdict, items
1-5). But equal-frequency bin BOUNDARIES are just order statistics at
k-1 known global ranks, and an order statistic can be located with a
two-phase distributed selection, the same structure Spark's own
RangePartitioner uses (sample -> bounds -> route); here the counting
pass is exact instead of sampled so a DuckDB oracle can hash-match:

1. ``repartitionByRange`` on the sort key: each output partition owns
   a contiguous key range, ranges ascend with partition id (range
   bounds come from Spark's sampler — *which* rows land where may
   vary, but every partition is a contiguous slice of the total
   order, which is the only property used).
2. per-partition COUNTS (one shuffle of P integers; collected to the
   driver — P rows, the same driver-side footprint as the bounds
   array inside RangePartitioner itself).
3. prefix sums locate, for each requested global rank, the owning
   partition and the local rank inside it; ``sortWithinPartitions``
   (Spark's SPILLABLE ExternalSorter — no exchange, each task sorts
   only ITS range) orders every partition, and a streaming
   ``mapInPandas`` pass just counts rows batch-by-batch and emits the
   ones at the targeted local ranks — Python holds ONE Arrow batch at
   a time, never the partition.

Total: two jobs over a localCheckpointed key projection, zero global
sorts, driver traffic P + len(positions) rows. ``num_ranges`` defaults
to max(shuffle.partitions, estimated-input-bytes / 256 MiB) from
Catalyst's plan statistics, so a 100 TB key projection gets enough
ranges to bound per-task sort input regardless of session conf.

NaN keys: routing (repartitionByRange) and ordering
(sortWithinPartitions) both use Spark's comparator — NaN sorts
GREATER than every real double, under ASC and DESC alike — so the
two phases can never disagree; the returned row is simply located
under that total order. The same holds for NULLs (Spark's
asc/desc default NULL placement, identical in both phases). Callers
pairing results with a DuckDB oracle still need NaN/NULL-free keys,
because the ENGINES order them differently — an operator-vs-oracle
seam, not an internal one.

With a UNIQUE sort key (metric + a tiebreaker key column, e.g.
``(o_totalprice, o_orderkey)``), ntile's row->bin map is a pure
function of the key's global rank, so "bin = 1 + number of cut-tuples
strictly before this row's key in sort order" reproduces ntile
BIT-FOR-BIT — the DuckDB oracle can keep its naive ``ntile`` window
while the Spark side bins by broadcast cutpoints (a handful of
literal comparisons, whole-stage-codegen'd, no window at all).

Every caller in this repo sorts on non-nullable, NaN-free TPC-H keys.
"""

from __future__ import annotations

import math
from typing import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Target bytes of key projection per range partition when num_ranges is
# derived from plan statistics: bounds the per-task ExternalSorter
# input (which spills anyway — this keeps spill the exception).
TARGET_RANGE_BYTES = 256 * 1024 * 1024


def _derived_num_ranges(
    keyproj: DataFrame, target_range_bytes: int = TARGET_RANGE_BYTES
) -> int:
    """max(shuffle.partitions, est_bytes/target) from Catalyst's
    plan-statistics estimate of the KEY PROJECTION (driver-side, no
    job). Unknown-size inputs (stats sentinel, API drift) fall back to
    shuffle.partitions — the pre-round-8 behavior."""
    spark = keyproj.sparkSession
    floor = int(spark.conf.get("spark.sql.shuffle.partitions"))
    try:
        sentinel = int(
            spark.conf.get("spark.sql.defaultSizeInBytes", str((1 << 63) - 1))
        )
        est = int(keyproj._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    except Exception:
        return floor
    # The size-only estimator propagates the defaultSizeInBytes sentinel
    # THROUGH operators: Project scales it by a column-width ratio (< 1)
    # and Join multiplies child sizes, so a stats-less input can surface
    # as ~1e18 without ever equalling the sentinel exactly. Treat any
    # estimate in the sentinel's order of magnitude as "unknown", and cap
    # the derived count so a bad estimate can never request billions of
    # range partitions.
    if est >= sentinel // 2:
        return floor
    return min(max(floor, math.ceil(est / target_range_bytes)), 100_000)


def ntile_cut_positions(n: int, k: int) -> list[int]:
    """1-indexed global rank of the LAST row of ntile bins 1..k-1.

    ntile(k) over n rows gives the first n % k bins ceil(n/k) rows and
    the rest floor(n/k), so bin i ends at rank i*(n//k) + min(i, n%k).
    """
    return [i * (n // k) + min(i, n % k) for i in range(1, k)]


def exact_order_statistics(
    df: DataFrame,
    sort_cols: Sequence[str],
    positions: Sequence[int] | None = None,
    ascending: Sequence[bool] | None = None,
    num_ranges: int | None = None,
    positions_fn=None,
) -> list[tuple]:
    """Rows of ``sort_cols`` at the given 1-indexed global ranks under
    the (sort_cols, ascending) total order; returned ALIGNED to the
    caller's ``positions`` — same order, duplicates included — as
    tuples of Python values. See module docstring for the algorithm.

    ``positions_fn(n) -> list[int]`` may be given instead of literal
    ``positions`` when the ranks depend on the (as yet unknown) total
    row count — e.g. ntile bin boundaries — so the count pass is not
    paid twice. Exactly one of the two must be provided.
    """
    cols = list(sort_cols)
    asc = list(ascending) if ascending is not None else [True] * len(cols)
    if (positions is None) == (positions_fn is None):
        raise ValueError(
            "provide exactly one of positions= or positions_fn= "
            f"(got positions={positions!r}, positions_fn={positions_fn!r})"
        )
    spark = df.sparkSession

    exprs = [F.col(c).asc() if a else F.col(c).desc() for c, a in zip(cols, asc)]
    keyproj = df.select(*cols)
    if num_ranges is None:
        num_ranges = _derived_num_ranges(keyproj)
    ranged = keyproj.repartitionByRange(num_ranges, *exprs).localCheckpoint()

    counts = {
        r["pid"]: r["cnt"]
        for r in ranged.groupBy(F.spark_partition_id().alias("pid"))
        .agg(F.count(F.lit(1)).alias("cnt"))
        .collect()  # bounded: one row per range partition
    }
    n = sum(counts.values())
    if positions_fn is not None:
        positions = positions_fn(n)
    positions = [int(p) for p in positions]
    want = sorted(set(positions))
    if want and (want[0] < 1 or want[-1] > n):
        raise ValueError(f"positions out of range 1..{n}: {positions}")

    # rank -> (owning partition, local rank) via prefix sums in pid order
    targets: dict[int, list[tuple[int, int]]] = {}
    cum = 0
    it = iter(want)
    p = next(it, None)
    for pid in sorted(counts):
        hi = cum + counts[pid]
        while p is not None and p <= hi:
            targets.setdefault(pid, []).append((p - cum, p))
            p = next(it, None)
        cum = hi
    bc = spark.sparkContext.broadcast(targets)

    out_schema = "_rank long, " + ", ".join(
        f"{c} {t}" for (c, t) in ranged.dtypes
    )

    def extract(batches):
        # The partition arrives PRE-SORTED (sortWithinPartitions below:
        # Spark's spillable ExternalSorter), so this pass only counts
        # rows — one Arrow batch in memory at a time, never the
        # partition. mapInArrow, not mapInPandas: the pandas roundtrip
        # rewrites NaN doubles to NULL (Arrow's pandas null sentinel);
        # raw RecordBatches pass every value through bit-exact. wanted
        # is ascending in local rank (built from ascending global ranks
        # within one pid above).
        import pyarrow as pa

        seen = 0
        wanted: list[tuple[int, int]] | None = None
        wi = 0
        for b in batches:
            nb = b.num_rows
            if nb == 0:
                continue
            if wanted is None:
                wanted = bc.value.get(b.column("_pid")[0].as_py(), [])
            idx, ranks = [], []
            while wi < len(wanted) and wanted[wi][0] <= seen + nb:
                lr, gr = wanted[wi]
                idx.append(lr - 1 - seen)
                ranks.append(gr)
                wi += 1
            if idx:
                taken = b.take(pa.array(idx, type=pa.int64()))
                yield pa.RecordBatch.from_arrays(
                    [pa.array(ranks, type=pa.int64())]
                    + [taken.column(c) for c in cols],
                    names=["_rank"] + cols,
                )
            seen += nb

    rows = (
        ranged.withColumn("_pid", F.spark_partition_id())
        .sortWithinPartitions(*exprs)
        .mapInArrow(extract, schema=out_schema)
        .collect()  # bounded: extract() emits only the requested ranks
    )
    by_rank = {r["_rank"]: tuple(r[c] for c in cols) for r in rows}
    return [by_rank[p] for p in positions]


def with_global_cumsum(
    df: DataFrame,
    sort_cols: Sequence[str],
    value_cols: Sequence[str],
    ascending: Sequence[bool] | None = None,
    out_prefix: str = "cum_",
    num_ranges: int | None = None,
) -> DataFrame:
    """Running SUM of each value column over the GLOBAL (sort_cols,
    ascending) order — a distributed prefix scan, not a
    single-partition window:

    1. ``repartitionByRange`` on the sort key (contiguous ranges,
       ascending with partition id), localCheckpointed so both
       consumers below see the SAME partition assignment;
    2. within-partition running sums (``Window.partitionBy(pid)`` —
       parallel);
    3. per-partition totals -> exclusive prefix offsets (a window over
       P rows — the acceptable tiny-frame kind) broadcast back;
    4. cumsum = local running sum + own partition's offset.

    EXACTNESS CONTRACT: the decomposition regroups the addition order,
    so value columns must be on an exact lattice (integers / counts /
    DECIMAL) — every caller in this repo is; for raw doubles the
    result would differ from a sequential fold by associativity ulps.
    Sort keys must be non-null and SHOULD be unique per row (append a
    key tiebreaker) so the running sum is well-defined under ties.
    """
    cols = list(sort_cols)
    vals = list(value_cols)
    asc = list(ascending) if ascending is not None else [True] * len(cols)
    spark = df.sparkSession
    if num_ranges is None:
        num_ranges = int(spark.conf.get("spark.sql.shuffle.partitions"))
    exprs = [F.col(c).asc() if a else F.col(c).desc() for c, a in zip(cols, asc)]
    from pyspark.sql import Window

    ranged = (
        df.repartitionByRange(num_ranges, *exprs)
        .withColumn("_pid", F.spark_partition_id())
        .localCheckpoint()
    )
    w_local = Window.partitionBy("_pid").orderBy(*exprs).rowsBetween(
        Window.unboundedPreceding, 0
    )
    local = ranged.select(
        "*", *[F.sum(v).over(w_local).alias(f"_loc_{v}") for v in vals]
    )
    totals = ranged.groupBy("_pid").agg(
        *[F.sum(v).alias(f"_tot_{v}") for v in vals]
    )
    w_off = Window.orderBy("_pid").rowsBetween(Window.unboundedPreceding, -1)
    offsets = totals.select(
        "_pid",
        *[
            F.coalesce(F.sum(f"_tot_{v}").over(w_off), F.lit(0)).alias(f"_off_{v}")
            for v in vals
        ],
    )
    out = local.join(F.broadcast(offsets), "_pid")
    keep = [c for c in df.columns]
    return out.select(
        *keep,
        *[
            (F.col(f"_loc_{v}") + F.col(f"_off_{v}")).alias(f"{out_prefix}{v}")
            for v in vals
        ],
    )


def with_global_rank(
    df: DataFrame,
    sort_cols: Sequence[str],
    ascending: Sequence[bool] | None = None,
    out_col: str = "rank",
    num_ranges: int | None = None,
) -> DataFrame:
    """row_number() over the GLOBAL (sort_cols, ascending) order as a
    distributed prefix scan of ones (see with_global_cumsum) — requires
    a unique sort key, under which rank == row_number exactly."""
    return (
        with_global_cumsum(
            df.withColumn("_rk1", F.lit(1)),
            sort_cols,
            ["_rk1"],
            ascending=ascending,
            num_ranges=num_ranges,
        )
        .withColumnRenamed("cum__rk1", out_col)
        .drop("_rk1")
    )


def after_cut(cols: Sequence[str], ascending: Sequence[bool], cut: tuple) -> Column:
    """Boolean Column: is this row's key tuple STRICTLY AFTER ``cut``
    in the (cols, ascending) lexicographic sort order? Pure literal
    comparisons — whole-stage-codegen'd, broadcast-free."""
    expr = F.lit(False)
    eq = F.lit(True)
    for c, a, v in zip(cols, ascending, cut):
        gt = (F.col(c) > F.lit(v)) if a else (F.col(c) < F.lit(v))
        expr = expr | (eq & gt)
        eq = eq & (F.col(c) == F.lit(v))
    return expr


def ntile_bin_column(
    df: DataFrame,
    sort_cols: Sequence[str],
    k: int,
    ascending: Sequence[bool] | None = None,
) -> Column:
    """A Column reproducing ``ntile(k) OVER (ORDER BY sort_cols)``
    bit-for-bit — PROVIDED the sort key is unique (append a key column
    as tiebreaker) — as 1 + (number of bin-boundary cut-tuples before
    this row), with the boundaries found by distributed selection
    instead of a single-partition window.

    ENVELOPE: the bin expression is k-1 chained literal cut
    comparisons — one whole-stage-codegen'd projection, sized for the
    quantile/decile/percentile range (k <= ~32, tested at 32; repo
    callers use k <= 16). Row cost is O(k x |sort_cols|) comparisons,
    so at k in the hundreds switch shape: put the cut tuples in a tiny
    DataFrame and broadcast range-join (bin = 1 + count of cuts before
    the row), which trades the literal tree for a O(log k)-probeable
    build side. No current caller needs it."""
    asc = list(ascending) if ascending is not None else [True] * len(sort_cols)
    cuts = exact_order_statistics(
        df,
        sort_cols,
        ascending=asc,
        positions_fn=lambda n: ntile_cut_positions(n, k),
    )
    bin_col = F.lit(1)
    for cut in cuts:
        bin_col = bin_col + after_cut(sort_cols, asc, cut).cast("int")
    return bin_col


def grouped_percentiles_via_ranks(
    df: DataFrame,
    group_cols: Sequence[str],
    value_col: str,
    percentiles: Sequence[float] = (0.02, 0.98),
    num_ranges: int | None = None,
) -> DataFrame:
    """Exact grouped linear-interpolated percentiles WITHOUT a
    per-group count-map merge — bit-identical to Spark's
    ``percentile(value, p)`` aggregate (and DuckDB ``quantile_cont``).

    Spark's exact Percentile buffers a value->count map per group and
    merges each group's maps in ONE reduce task — O(distinct values)
    serial work and memory per group, the shape that cannot survive a
    100 TB group (r16 census: 3 single-task merges of ~200k-entry maps
    on the fixture). But the percentile itself only needs the TWO
    values bracketing rank p*(n_g-1) in each group, and a global rank
    under the (group, value) sort order is an order statistic —
    locatable with the distributed two-phase selection
    ``exact_order_statistics`` already provides (range-partition,
    per-partition counts, targeted streaming extraction; no
    single-partition sort, no per-group buffer).

    Interpolation replicates Percentile.getPercentile exactly:
    ``position = (n-1) * p`` (double multiply, that operand order);
    ``(higher - position) * lower_val + (position - lower) * higher_val``
    — the same IEEE-754 double operations in the same order, so
    results are bit-identical, not merely close.

    ENVELOPE: driver traffic is O(#groups x #percentiles) rows (the
    group-count aggregate plus the located ranks) — for LOW-cardinality
    group keys (the contrast-stretch caller groups by a 3-value flag).
    High-cardinality groupings should keep the buffered aggregate:
    each group is then small, and this path's driver collect would
    grow with the group count. NULL values are excluded (the
    aggregate's semantics); group keys must be non-null and, when
    strings, ASCII (Python's tuple sort below must agree with Spark's
    binary string order — all repo callers group by TPC-H flags).
    """
    import math

    vals = df.select(*group_cols, value_col).where(
        F.col(value_col).isNotNull()
    )
    grp_counts = {
        tuple(r[c] for c in group_cols): r["_n"]
        for r in vals.groupBy(*group_cols)
        .agg(F.count(F.lit(1)).alias("_n"))
        .collect()  # bounded: one row per group (low-cardinality keys)
    }
    # per-group offsets under the (group_cols asc, value asc) order
    keys = sorted(grp_counts)
    offsets: dict[tuple, int] = {}
    cum = 0
    for k in keys:
        offsets[k] = cum
        cum += grp_counts[k]
    # within-group 1-indexed ranks bracketing each percentile position
    want: list[int] = []
    meta: list[tuple[tuple, float, int, int]] = []  # (group, pos, lo, hi)
    for k in keys:
        n = grp_counts[k]
        for p in percentiles:
            pos = (n - 1) * float(p)  # Percentile: maxPosition * p
            lo = math.floor(pos)
            hi = math.ceil(pos)
            meta.append((k, pos, lo, hi))
            want.append(offsets[k] + lo + 1)
            want.append(offsets[k] + hi + 1)
    located = exact_order_statistics(
        vals,
        [*group_cols, value_col],
        positions=want,
        num_ranges=num_ranges,
    )
    out_rows = []
    by_group: dict[tuple, list[float]] = {k: [] for k in keys}
    for i, (k, pos, lo, hi) in enumerate(meta):
        v_lo = located[2 * i][-1]
        v_hi = located[2 * i + 1][-1]
        if hi == lo or v_hi == v_lo:
            v = float(v_lo)
        else:
            # Percentile.getPercentile, verbatim operation order
            v = (hi - pos) * float(v_lo) + (pos - lo) * float(v_hi)
        by_group[k].append(v)
    for k in keys:
        out_rows.append(tuple(k) + tuple(by_group[k]))
    spark = df.sparkSession
    names = [f"p{int(round(p * 100))}" for p in percentiles]
    schema = ", ".join(
        f"`{c}` {t}"
        for c, t in df.select(*group_cols).dtypes
    ) + ", " + ", ".join(f"{nm} double" for nm in names)
    return spark.createDataFrame(out_rows, schema)
