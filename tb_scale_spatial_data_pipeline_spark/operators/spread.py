"""Scale-adaptive input spreading for CPU-dense pipelines.

The fixture tables are single-row-group parquet, so their scans are
one task regardless of core count — and any compute-dense map work
fused into the scan stage (shingling, per-token md5, regex profiling)
runs serially while the rest of the machine idles. ``spread_cpu``
repartitions ONLY when the input has fewer partitions than the
session's parallelism: at production split counts (every real table at
scale is many files/row groups) the condition is false and no shuffle
is added, so this is the "derive partitioning from the input" rule,
not a local-mode constant.

Only use it in front of per-row CPU-heavy work whose results are
partition-order independent (hash/agg/join shapes — everything in the
dedup/text tiers); the round-robin spread changes row placement, never
row content.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Observation
from pyspark.sql import functions as F


def spread_cpu(df: DataFrame) -> DataFrame:
    """Round-robin ``df`` across the default parallelism iff the plan
    currently has fewer partitions; identity otherwise.

    RESTRICTION: only apply to SCAN-ROOTED inputs (a table read plus
    narrow projections/filters). The partition probe converts the plan
    to an RDD, which (a) forces full physical planning of the subtree
    on the driver per call, and (b) for inputs downstream of a shuffle
    reports the static pre-AQE partition count
    (``spark.sql.shuffle.partitions``), not the AQE-coalesced runtime
    count — so after a shuffle the guard can silently mis-decide (skip
    spreading a plan AQE will coalesce to one partition). Every current
    call site is scan-rooted; keep it that way.
    """
    sc = df.sparkSession.sparkContext
    target = sc.defaultParallelism
    if df.rdd.getNumPartitions() >= target:
        return df
    return df.repartition(target)


# Cap on the row count of a FORCED broadcast vector. A (long, long)
# node vector is ~16 B of data per row but several times that as the
# built HashedRelation, so 8M rows keeps the relation in the
# few-hundred-MB range — far under Spark's hard 8 GB / 512M-row
# broadcast cap and a sane share of driver/executor heap.
BROADCAST_MAX_ROWS = 8_000_000


def broadcast_if_small(df: DataFrame, n_rows: int) -> DataFrame:
    """Size-guarded broadcast hint for per-round node-vector joins.

    The iterative graph loops join a checkpointed edge table against a
    per-round O(|nodes|) vector. The explicit hint is required because
    the planner's size estimate for that vector is useless: a
    checkpoint keeps the estimate of the plan it was built from, and a
    scan-rooted one stays usable, but a vector built by a join carries
    an exploded estimate (a 100k-node pagerank-shaped vector estimates
    442 TiB after one round on Spark 4.1.2), so unhinted it sort-merge
    joins every round. A hint, however, FORCES the broadcast (AQE will
    not demote it), and node cardinality grows linearly with scale: at
    TPC-H-proportioned 100 TB (SF ~ 1e5), suppliers ~ 1e9 and the rank
    vector is a ~16 GB relation, over Spark's hard 8 GB / 512M-row
    broadcast limit and any sane driver heap — a hard query failure
    where a shuffle join merely degrades.

    ``n_rows`` is an upper bound on the vector's row count the caller
    already has (an exact node count, or the checkpointed edge count
    that bounds it — observed by the job that checkpointed the table,
    `counted_checkpoint`, and amortized over every round of the loop).
    Above
    ``BROADCAST_MAX_ROWS`` the frame is returned unhinted and the
    planner's sort-merge / shuffled-hash join degrades gracefully.
    """
    if n_rows <= BROADCAST_MAX_ROWS:
        return F.broadcast(df)
    return df


def counted_checkpoint(
    df: DataFrame, where: Column | None = None
) -> tuple[DataFrame, int]:
    """Eager checkpoint of `df` and its row count — with `where`, the
    count of rows where it holds — observed by the checkpoint job
    itself (`DataFrame.observe`): one job where a checkpoint followed
    by an `isEmpty()`/`count()`/`collect()` probe runs two. The count
    feeds `broadcast_if_small` bounds and loop exits."""
    obs = Observation()
    n = F.count(F.lit(1)) if where is None else F.count(F.when(where, 1))
    df = df.observe(obs, n.alias("rows")).localCheckpoint(eager=True)
    return df, obs.get["rows"]


def full_width(spark) -> int:
    """Partition count for an EXPLICIT repartition of a compute-dense
    shuffle: the session's shuffle-partition setting, floored at the
    core count. Locally both are the task-slot count (``get_spark``
    sets the width to ``cpus``), so this is ``defaultParallelism``: one
    task per slot. On a cluster profile shuffle.partitions is the tuned
    (large) value, so a fixed-width exchange derived from this never
    drops below either knob. Use where
    AQE's byte-based advisory sizing is the wrong objective — a small-
    byte exchange carrying superlinear compute (pair fan-out joins,
    wedge enumeration) that coalescing would serialize (guide §2.5)."""
    return max(
        spark.sparkContext.defaultParallelism,
        int(spark.conf.get("spark.sql.shuffle.partitions")),
    )
