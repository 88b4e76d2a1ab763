"""SparkSession factory tuned for this engine.

Local testing runs on ``local[N]`` but every setting is chosen to also
make sense on a 1000-executor cluster reading 100 TB:

- AQE on (runtime re-plan, skew-join splitting, partition coalescing)
- Arrow on (pandas-UDF kernels are Arrow-batched, never row-at-a-time)
- shuffle partitions equal to the task-slot count (``cpus``): one
  shuffle wave, so every map task writes one block per slot and an
  explicit ``repartition(full_width(...))`` runs one task per slot;
  on a real cluster AQE's coalescing makes the initial number far
  less sensitive, and ``extra_conf`` sets a cluster profile's width
- broadcast threshold left at default 10 MB — small dims (region,
  nation, model/prediction lookups) broadcast automatically; we still
  add explicit ``broadcast()`` hints where the optimizer can't know
  the side is small (derived lookup tables).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "tb-scale-pipeline-spark",
    cpus: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with the engine's standard config
    on ``local[cpus]``; ``extra_conf`` overrides any setting, the shuffle
    width included."""
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or (os.cpu_count() or 4)

    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        # Shuffle width = task slots. At fixture size a query's cost is
        # fixed cost per job and per task, not work on data, so a width
        # above the slot count only adds tasks and shuffle blocks. The
        # old floor of 32 ran weisfeiler_leman_colors (sf0.01, local[2],
        # median of 10 warm calls) at 3.2-3.6 s of CPU against
        # 2.05-2.47 s at 2, with the same 29 jobs: its pair-build stage
        # fell from 32 tasks and 1.36 s of executor CPU to 2 tasks and
        # 0.50 s.
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # AQE coalescing floor: Spark's default 1m. A global 128k floor
        # (tried in an earlier round to parallelize compute-dense
        # small-byte stages) multiplied post-shuffle task counts on
        # EVERY small shuffle and regressed the latency-bound query
        # cluster by up to 2x (driver-measured: blocklist_phrase_filter
        # ran FASTER at 8 cores than 32 — pure scheduling overhead).
        # The compute-dense stages it was protecting are now fixed at
        # the query level (spread_cpu, explicit broadcasts of per-round
        # vectors), and an interleaved A/B shows 1m >= 128k on all of
        # them (ktruss 9.4 s vs 11.4 s, em 2.40 vs 2.86, rollup 1.74
        # vs 2.01) while the small-query cluster recovers (blocklist
        # median 1.75 s vs 3.02 s). At production volumes bytes/cores
        # is far above either floor, so the setting is inert there;
        # overridable per-env for cluster profiles.
        .config(
            "spark.sql.adaptive.coalescePartitions.minPartitionSize",
            os.environ.get("SPARK_GRAFT_AQE_MIN_PARTITION_SIZE", "1m"),
        )
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.sql.session.timeZone", "UTC")
        # Whole-stage-codegen compiled-class cache (static conf, default
        # 100 entries). A session that runs a many-query workload — the
        # 68-query bench, a BI dashboard, any multi-tenant driver —
        # generates far more than 100 codegen fragments, so the LRU
        # evicts and every pass recompiles every stage on the driver
        # (~1-3 s per multi-stage query; measured: ktruss 7.3->5.6 s,
        # betweenness 5.8->3.5 s, WL 3.9->3.0 s in a bench-shaped
        # sequence). 5000 entries of class references is a few hundred
        # MB of metaspace at worst and is workload-, not machine-,
        # proportioned; the knob matters identically on a cluster
        # driver.
        .config(
            "spark.sql.codegen.cache.maxEntries",
            os.environ.get("SPARK_GRAFT_CODEGEN_CACHE_ENTRIES", "5000"),
        )
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        # keep stdout clean: the driver contract parses the LAST JSON
        # line of stdout, and progress-bar escapes can interleave with it
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(10 * 1024 * 1024))
        # fixture parquet writes TIMESTAMP(NANOS); Spark has no nanos
        # timestamp type — read as long, catalog converts to micros
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
