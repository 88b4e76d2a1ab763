"""Structured Streaming operators over the `events` table (SURVEY
§2.8 / §7.5 extension surface — the reference has no event streams;
its "streaming" is bounded sequential I/O, SURVEY §1.4).

Each operator is defined on a streaming DataFrame (``readStream`` over
the events parquet with an explicit schema) and runs with the
``availableNow`` trigger into a memory sink for deterministic,
bounded-test execution — identical code would run continuously against
a file/Kafka source in production. Watermarks bound state at scale:
a windowed aggregation over an unbounded stream is only feasible
because closed windows are evicted.
"""

from __future__ import annotations

import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """readStream over the events fixture. Schema comes from a batch
    footer read (streaming sources need explicit schemas); nanosecond
    timestamps arrive as longs and convert to µs timestamps exactly as
    in the batch catalog."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")  # defensive
    batch = spark.read.parquet(f"{sf_dir}/events.parquet")
    # FileStreamSource requires a directory: stream the sf dir with a
    # glob filter selecting only the events file
    stream = (
        spark.readStream.schema(batch.schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )
    from ..sources.catalog import normalize_event_ts

    return normalize_event_ts(stream)


def run_stream_to_table(
    out: DataFrame, output_mode: str = "complete", shuffle_partitions: int = 4
) -> DataFrame:
    """Execute a streaming plan to completion (availableNow) and
    return the result as a batch DataFrame from the memory sink.

    Stateful operators open one state store PER shuffle partition per
    micro-batch; on the bounded test fixtures that store overhead (not
    the data) dominates, so the shuffle-partition count is scoped down
    for the run: to ``shuffle_partitions``, and never above the
    session's task slots (``defaultParallelism``), since a store per
    partition beyond one per slot only queues another task wave
    (stream_dedup on local[2]: 1.31 s of CPU with 4 state partitions,
    1.02 s with 2). In production the same knob is sized UP to spread
    state across executors — it is per-query-start, not a code change,
    because the state layout is fixed at first checkpoint. Queries
    whose wall time is per-KEY Python dispatch rather than store
    overhead (measured: stream_ttl_dedup, 7.5k keys) pass a larger
    count — at sf0.1 on 32 slots the 4→16 step cut its wall
    13.4 s → 10.3 s with a plateau by 32 (PLANS.md r11
    decomposition)."""
    spark = out.sparkSession
    name = f"stream_result_{uuid.uuid4().hex[:12]}"
    width = min(shuffle_partitions, spark.sparkContext.defaultParallelism)
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(width))
    try:
        q = (
            out.writeStream.format("memory")
            .queryName(name)
            .outputMode(output_mode)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    return spark.table(name)


def stream_tumbling_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 10-minute windowed aggregation with a 1-hour watermark.
    Complete-mode memory sink → emits every window, so the result is
    comparable to the batch `tumbling_window` query (same oracle)."""
    ev = events_stream(spark, sf_dir)
    from ..plans._util import dsum

    agg = (
        ev.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "10 minutes").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"), dsum(F.col("value")).alias("sum_value"))
        .select(
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("wstart"),
            "event_type",
            "n",
            "sum_value",
        )
    )
    return run_stream_to_table(agg, "complete")


def stream_session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session windows (30-minute gap) per user with watermark —
    Spark's built-in session_window stateful operator."""
    ev = events_stream(spark, sf_dir)
    agg = (
        ev.withWatermark("ts", "1 hour")
        .groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("session_start"),
            "n_events",
        )
    )
    return run_stream_to_table(agg, "complete")


def stream_sliding_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding windows (10 min / 5 min slide) on the stream — same
    result set as the batch `sliding_window` query (shared oracle)."""
    ev = events_stream(spark, sf_dir)
    from ..plans._util import dsum

    agg = (
        ev.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "10 minutes", "5 minutes").alias("w"))
        .agg(F.count(F.lit(1)).alias("n"), dsum(F.col("value")).alias("sum_value"))
        .select(
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("wstart"),
            "n",
            "sum_value",
        )
    )
    return run_stream_to_table(agg, "complete")


def stream_dedup_within_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stateful dropDuplicates on (user_id, event_type) within the
    watermark horizon → count per user of distinct event types seen."""
    ev = events_stream(spark, sf_dir)
    deduped = ev.withWatermark("ts", "1 hour").dropDuplicates(
        ["user_id", "event_type"]
    )
    out = deduped.select("user_id", "event_type", "event_id")
    return run_stream_to_table(out, "append")


def stream_user_running_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful operator via ``applyInPandasWithState``: a
    per-user running (count, sum) accumulator over the event stream —
    the arbitrary-state surface beyond built-in windows. State is
    keyed by user_id and bounded by the processing-timeout contract;
    at 100 TB of events the state store only ever holds one small
    tuple per active key."""
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    ev = events_stream(spark, sf_dir).select("user_id", "value")

    def update(key, pdfs, state: GroupState):
        import pandas as pd

        n, total = state.get if state.exists else (0, 0.0)
        for pdf in pdfs:
            n += len(pdf)
            total += float(pdf["value"].sum())
        state.update((n, total))
        yield pd.DataFrame(
            {"user_id": [key[0]], "n_events": [n], "total_value": [round(total, 2)]}
        )

    out = ev.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType="user_id long, n_events long, total_value double",
        stateStructType="n long, total double",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    return run_stream_to_table(out, "update")


def stream_stream_click_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream event-time interval join: each click joined to the
    same user's purchases within the following 30 minutes. Both sides
    carry watermarks and the join condition bounds event-time distance,
    so the state store can evict rows once the other side's watermark
    passes — the required shape for an unbounded×unbounded join (a
    stream-stream join without the time bound would keep ALL history
    in state). Append mode: matches emit exactly once.

    Both sides derive from ONE streaming source — a self-join of a
    single stream is fully supported, and a second FileStreamSource
    over the same path doubles listing/offset-tracking/scan work
    (measured 2.6× slower) for identical results."""
    ev = events_stream(spark, sf_dir)
    clicks = (
        ev.where(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("c_ts"),
        )
        .withWatermark("c_ts", "1 hour")
    )
    purchases = (
        ev.where(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("p_ts"),
        )
        .withWatermark("p_ts", "1 hour")
    )
    joined = clicks.join(
        purchases,
        (F.col("c_user") == F.col("p_user"))
        & (F.col("p_ts") >= F.col("c_ts"))
        & (F.col("p_ts") <= F.col("c_ts") + F.expr("INTERVAL 30 MINUTES")),
    ).select(
        "click_id",
        "purchase_id",
        F.date_format("c_ts", "yyyy-MM-dd HH:mm:ss").alias("click_ts"),
        F.date_format("p_ts", "yyyy-MM-dd HH:mm:ss").alias("purchase_ts"),
    )
    return run_stream_to_table(joined, "append")


def stream_static_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static enrichment join: streaming events joined to the
    static customer dimension, aggregated per market segment.

    The standard production shape for dimension enrichment: the static
    side is re-read per micro-batch (picking up dimension updates) and
    broadcast — no state is kept for the join itself, so it scales to
    unbounded streams; only the tiny per-segment aggregate is stateful.
    The reference's analog is its broadcast lookup-dict probe
    (`3_object_classification/object_classifier.py:134-165`) applied to
    a live stream.
    """
    ev = events_stream(spark, sf_dir).select("event_id", "user_id", "value")
    cust = (
        spark.read.parquet(f"{sf_dir}/customer.parquet")
        .select("c_custkey", "c_mktsegment")
    )
    enriched = ev.join(
        F.broadcast(cust), ev["user_id"] == cust["c_custkey"]
    )
    agg = enriched.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.col("value").cast("decimal(18,2)"))
        .cast("double")
        .alias("total_value"),
    )
    return run_stream_to_table(agg, "complete")


def stream_transform_with_state_totals(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The same per-user running totals on the transformWithState v2
    API (Spark 4): typed ValueState via a StatefulProcessor handle —
    the successor surface to applyInPandasWithState, with composable
    state variables (value/list/map), TTL, and timers. Semantics match
    `stream_user_running_totals`; both are kept because the two APIs
    coexist in Spark 4 and an engine user may target either.

    Environment gate: the v2 state server speaks protobuf to the
    Python worker; when `google.protobuf.descriptor` is unavailable
    (as in this container) the operator degrades to the v1
    `applyInPandasWithState` path, which is semantically identical
    for this processor (same key, same state tuple, same output)."""
    try:
        from google.protobuf import descriptor  # noqa: F401
    except ImportError:
        import warnings

        warnings.warn(
            "transformWithState v2 unavailable (google.protobuf missing); "
            "falling back to the applyInPandasWithState v1 path — "
            "semantics identical for this processor, API surface not "
            "exercised",
            RuntimeWarning,
            stacklevel=2,
        )
        return stream_user_running_totals(spark, sf_dir)
    import pandas as pd
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )
    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StructField,
        StructType,
    )

    state_schema = StructType(
        [
            StructField("n", LongType()),
            StructField("total", DoubleType()),
        ]
    )

    class RunningTotals(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self.totals = handle.getValueState("totals", state_schema)

        def handleInputRows(self, key, rows, timerValues):
            n, total = (
                self.totals.get() if self.totals.exists() else (0, 0.0)
            )
            for pdf in rows:
                n += len(pdf)
                total += float(pdf["value"].sum())
            self.totals.update((n, total))
            yield pd.DataFrame(
                {
                    "user_id": [key[0]],
                    "n_events": [n],
                    "total_value": [round(total, 2)],
                }
            )

        def close(self) -> None:
            # required StatefulProcessor override; no resources to release
            pass

    ev = events_stream(spark, sf_dir).select("user_id", "value")
    out = ev.groupBy("user_id").transformWithStateInPandas(
        RunningTotals(),
        outputStructType="user_id long, n_events long, total_value double",
        outputMode="Update",
        timeMode="None",
    )
    return run_stream_to_table(out, "update")


def stream_stream_click_purchase_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream LEFT OUTER event-time interval join: every click
    emits exactly once — joined to same-user purchases in the following
    30 minutes, or with NULL purchase columns once the purchase-side
    watermark passes the click's join window and the state store evicts
    it. This is the outer-join shape that requires watermark eviction
    to be correct at all (without the time bound + watermarks, null
    rows could never be finalized on an unbounded stream).

    availableNow caveat (inherent to the semantics, not this code):
    clicks whose join window the final watermark has not yet passed
    remain in state and emit no null row — the batch-twin agreement
    test (tests/test_ml_streaming.py) therefore compares the
    closed-watermark region, where streaming and batch results must
    match row-for-row. Single shared source — see
    stream_stream_click_purchase."""
    ev = events_stream(spark, sf_dir)
    clicks = (
        ev.where(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("c_ts"),
        )
        .withWatermark("c_ts", "1 hour")
    )
    purchases = (
        ev.where(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("p_ts"),
        )
        .withWatermark("p_ts", "1 hour")
    )
    joined = clicks.join(
        purchases,
        (F.col("c_user") == F.col("p_user"))
        & (F.col("p_ts") >= F.col("c_ts"))
        & (F.col("p_ts") <= F.col("c_ts") + F.expr("INTERVAL 30 MINUTES")),
        "leftOuter",
    ).select(
        "click_id",
        "purchase_id",
        F.date_format("c_ts", "yyyy-MM-dd HH:mm:ss").alias("click_ts"),
        F.date_format("p_ts", "yyyy-MM-dd HH:mm:ss").alias("purchase_ts"),
    )
    return run_stream_to_table(joined, "append")


def stream_stream_click_purchase_full_outer(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """FULL OUTER stream-stream interval join — completes the join-mode
    matrix (inner / left-outer / full-outer). Both sides need
    watermarks AND the time-range conjunct so BOTH state stores can
    evict: an unmatched click emits its null row when the watermark
    passes the click's join window, an unmatched purchase emits when
    the watermark passes the purchase itself. Same availableNow caveat
    as the left-outer form: rows whose window the final watermark has
    not passed remain in state, so the batch-twin agreement holds on
    the closed-watermark region (tests/test_ml_streaming.py)."""
    ev = events_stream(spark, sf_dir)
    clicks = (
        ev.where(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("c_ts"),
        )
        .withWatermark("c_ts", "1 hour")
    )
    purchases = (
        ev.where(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("p_ts"),
        )
        .withWatermark("p_ts", "1 hour")
    )
    joined = clicks.join(
        purchases,
        (F.col("c_user") == F.col("p_user"))
        & (F.col("p_ts") >= F.col("c_ts"))
        & (F.col("p_ts") <= F.col("c_ts") + F.expr("INTERVAL 30 MINUTES")),
        "fullOuter",
    ).select(
        "click_id",
        "purchase_id",
        F.date_format("c_ts", "yyyy-MM-dd HH:mm:ss").alias("click_ts"),
        F.date_format("p_ts", "yyyy-MM-dd HH:mm:ss").alias("purchase_ts"),
    )
    return run_stream_to_table(joined, "append")


def stream_session_windows_dynamic_gap(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Session windows with a DYNAMIC per-row gap — the gap is a
    column expression (15 minutes for even user ids, 45 for odd), the
    form real sessionization needs when engagement profiles differ by
    cohort. Same watermark-bounded state as the fixed-gap operator;
    the batch twin is per-user-gap gaps-and-islands (oracle-checked)."""
    ev = events_stream(spark, sf_dir)
    gap = F.when(F.col("user_id") % 2 == 0, F.lit("15 minutes")).otherwise(
        F.lit("45 minutes")
    )
    agg = (
        ev.withWatermark("ts", "1 hour")
        .groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("session_start"),
            "n_events",
        )
    )
    return run_stream_to_table(agg, "complete")


# --- watermark-sealed outer joins -----------------------------------------

_SEALED_DIRS: dict[str, str] = {}


def sealed_events_dir(spark: SparkSession, sf_dir: str) -> str:
    """Stage the events fixture next to a watermark-sealing sentinel:
    one far-future click and one far-future purchase (user_id -1,
    12 h apart so they cannot join each other). When the stream drains,
    the sentinels push BOTH sides' watermarks past every real row's
    join window, so all outer-join state evicts and the append-mode
    result equals the batch outer join exactly — which is what makes
    the sealed variants oracle-pairable. This is the production
    "stream epoch close" idiom: emit a high-watermark control record
    to finalize a bounded replay (e.g. a backfill) instead of leaving
    tail rows in state forever."""
    key = sf_dir
    if key in _SEALED_DIRS:
        return _SEALED_DIRS[key]
    import shutil
    import tempfile
    from datetime import datetime

    tmp = tempfile.mkdtemp(prefix="sealed_events_")
    shutil.copy(f"{sf_dir}/events.parquet", f"{tmp}/events.parquet")
    raw = spark.read.parquet(f"{sf_dir}/events.parquet")
    sent = spark.createDataFrame(
        [
            (-1, datetime(2030, 1, 1), -1, "click", 0.0, "{}"),
            (-2, datetime(2030, 1, 2), -1, "purchase", 0.0, "{}"),
        ],
        raw.schema,
    )
    sent.coalesce(1).write.mode("overwrite").parquet(f"{tmp}/seal.parquet")
    _SEALED_DIRS[key] = tmp
    return tmp


def stream_stream_outer_sealed(
    spark: SparkSession, sf_dir: str, how: str
) -> DataFrame:
    """Left-/full-outer stream-stream interval join over the SEALED
    events stream (see sealed_events_dir): every real row's window is
    closed by the sentinel watermark, so the streaming result is
    bit-equal to the batch outer join — the driver hash-checks it
    against the plain SQL outer join. Sentinel rows are dropped by a
    stateless post-join filter."""
    from ..sources.catalog import normalize_event_ts

    staged = sealed_events_dir(spark, sf_dir)
    schema = spark.read.parquet(f"{staged}/events.parquet").schema
    ev = normalize_event_ts(
        spark.readStream.schema(schema).parquet(f"{staged}/*.parquet")
    )
    clicks = (
        ev.where(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("c_ts"),
        )
        .withWatermark("c_ts", "1 hour")
    )
    purchases = (
        ev.where(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("p_ts"),
        )
        .withWatermark("p_ts", "1 hour")
    )
    joined = (
        clicks.join(
            purchases,
            (F.col("c_user") == F.col("p_user"))
            & (F.col("p_ts") >= F.col("c_ts"))
            & (F.col("p_ts") <= F.col("c_ts") + F.expr("INTERVAL 30 MINUTES")),
            how,
        )
        .where(F.coalesce(F.col("c_user"), F.col("p_user")) >= 0)
        .select(
            "click_id",
            "purchase_id",
            F.date_format("c_ts", "yyyy-MM-dd HH:mm:ss").alias("click_ts"),
            F.date_format("p_ts", "yyyy-MM-dd HH:mm:ss").alias("purchase_ts"),
        )
    )
    return run_stream_to_table(joined, "append")


def stream_windowed_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lambda-architecture serving shape: the STREAM maintains tumbling
    10-minute per-type counts (complete mode, availableNow drain); the
    SERVING layer ranks the drained table — ranking is not a streaming
    aggregation, which is exactly why production top-k dashboards rank
    at read time over the maintained counts. Returns the per-window
    winner type with its count and the window total."""
    from pyspark.sql import Window as W

    ev = events_stream(spark, sf_dir)
    counts = ev.groupBy(
        F.window("ts", "10 minutes").alias("w"), "event_type"
    ).agg(F.count(F.lit(1)).alias("n"))
    drained = run_stream_to_table(counts, "complete")
    rn = F.row_number().over(
        W.partitionBy("w").orderBy(F.desc("n"), F.asc("event_type"))
    )
    tot = F.sum("n").over(W.partitionBy("w"))
    return (
        drained.withColumn("rn", rn)
        .withColumn("window_total", tot)
        .where(F.col("rn") == 1)
        .select(
            F.date_format(F.col("w.start"), "yyyy-MM-dd HH:mm:ss").alias(
                "wstart"
            ),
            F.col("event_type").alias("top_type"),
            F.col("n").cast("bigint").alias("top_n"),
            F.col("window_total").cast("bigint").alias("window_total"),
        )
    )


def stream_cusum_alerts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user CUSUM change-point detection as a CUSTOM STATEFUL
    streaming operator: applyInPandasWithState carries the running
    statistic s (in exact integer cents) per user and emits alarm rows
    where s crosses the threshold — the streaming twin of the batch
    closed-form `cusum_changepoint`, hash-checked against the same
    oracle. Event-time order: the bounded availableNow replay delivers
    the fixture in one micro-batch, so the per-user frame is sorted
    in-function; a production deployment buffers within the watermark
    (or relies on per-key ordered delivery) to get the same contract."""
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    from ..plans.timeseries_queries import _CUSUM_C, _CUSUM_H

    c_cents = int(round(_CUSUM_C * 100))
    h_cents = int(round(_CUSUM_H * 100))

    ev = events_stream(spark, sf_dir).select(
        "user_id", "ts", "event_id", "value"
    )

    def update(key, pdfs, state: GroupState):
        import pandas as pd

        (s,) = state.get if state.exists else (0,)
        out = {"user_id": [], "ts": [], "event_id": [], "cusum_stat": []}
        for pdf in pdfs:
            pdf = pdf.sort_values(["ts", "event_id"])
            for row in pdf.itertuples():
                y = int(round(round(row.value, 2) * 100)) - c_cents
                s = max(0, s + y)
                if s > h_cents:
                    out["user_id"].append(key[0])
                    out["ts"].append(row.ts)
                    out["event_id"].append(row.event_id)
                    out["cusum_stat"].append(s / 100.0)
        state.update((s,))
        yield pd.DataFrame(out)

    alerts = ev.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType="user_id long, ts timestamp, event_id long,"
        " cusum_stat double",
        stateStructType="s long",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    return run_stream_to_table(alerts, "append")


def stream_windowed_distinct_hll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-window approximate distinct users via mergeable HLL
    registers — the streaming cardinality pattern: COUNT(DISTINCT) is
    not a streaming aggregation (unbounded per-key state), but an HLL
    register table IS (max per (window, bucket) — 256 bounded cells
    per window, watermark-evicted). The STREAM maintains the
    registers; the SERVING layer folds them into the estimate at read
    time, exactly like stream_windowed_topk ranks maintained counts.
    Registers use the repo's engine-reproducible md5 layout
    (bucket = first 8 md5 bits, rho over the next 40 — see
    sketch_queries._sql_hll), so the DuckDB oracle rebuilds the
    identical sketch from the batch table and the result hash-checks:
    a STREAMING query proven equal to a batch sketch, register for
    register."""
    ev = events_stream(spark, sf_dir)
    v = F.col("user_id").cast("string")
    h = ev.select(
        F.col("ts"),
        F.conv(F.substring(F.md5(v), 1, 2), 16, 10).cast("bigint").alias("bucket"),
        F.conv(F.substring(F.md5(v), 3, 10), 16, 10).cast("bigint").alias("w"),
    )
    rho = F.when(F.col("w") == 0, 41).otherwise(41 - F.length(F.bin(F.col("w"))))
    regs = h.groupBy(
        F.window("ts", "10 minutes").alias("win"), F.col("bucket")
    ).agg(F.max(rho).alias("m"))
    # complete mode: the register table is the MAINTAINED state (like
    # stream_windowed_topk's counts) — append mode would hold back the
    # final watermark-unsealed windows on a bounded drain. Production
    # pairs append+watermark with an epoch-close control record (the
    # sealed-join idiom) when downstream needs finalized emits.
    drained = run_stream_to_table(regs, "complete")
    sk = drained.groupBy("win").agg(
        F.sum(F.expr("shiftleft(cast(1 as bigint), 41 - m)")).alias("s_used"),
        F.count(F.lit(1)).alias("used"),
    )
    m_regs = 256
    two41 = 2199023255552.0
    v_empty = m_regs - F.col("used")
    e_raw = (
        F.lit(0.7213)
        / (F.lit(1.0) + F.lit(1.079) / m_regs)
        * (m_regs * m_regs)
        * two41
        / (F.col("s_used") + v_empty * F.lit(int(two41)))
    )
    est = F.when(
        (e_raw <= 2.5 * m_regs) & (v_empty > 0),
        m_regs * F.log(m_regs / v_empty.cast("double")),
    ).otherwise(e_raw)
    return sk.select(
        F.date_format(F.col("win.start"), "yyyy-MM-dd HH:mm:ss").alias("wstart"),
        F.col("used").cast("bigint").alias("buckets_used"),
        F.round(est, 4).alias("hll_users"),
    ).orderBy("wstart")


_TTL_DEDUP_MIN = 30


def stream_ttl_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming dedup with TTL-EXPIRING key state: an event is
    admitted iff no event with the same (user_id, event_type) arrived
    within the preceding TTL (30 min); every arrival — admitted or
    suppressed — refreshes the key's last-seen timestamp, and a key
    whose state outlives its TTL is REMOVED via an event-time timeout
    (state.hasTimedOut -> remove), so the state store holds only keys
    active within the TTL horizon. This is the one state pattern the
    streaming tier lacked: dropDuplicates holds keys for the whole
    watermark; here expiry IS the semantics (after a quiet TTL the
    same key re-admits).

    Determinism contract (same as stream_cusum_alerts): the bounded
    availableNow replay delivers each key's rows in one micro-batch
    and the per-key frame sorts by (ts, event_id) in-function; the
    gap rule "admit iff ts - prev_ts > TTL" then matches the batch
    lag() twin row for row, so the result is hash-checked against a
    pure-window DuckDB oracle — a STREAMING stateful operator proven
    equal to a batch window query. At scale the watermark bounds how
    late a row can reorder across batches; within-watermark replays
    land in the same admit/suppress classes because the state refresh
    depends only on the predecessor gap."""
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    ttl_us = _TTL_DEDUP_MIN * 60 * 1_000_000
    ttl_ms = _TTL_DEDUP_MIN * 60 * 1000
    # KEY-BATCHED state groups (guide §4.3): the per-(user, type) form
    # paid one Python invocation per key — ~7.5k tiny groups at sf0.1,
    # ~1.4 ms of protocol dispatch each, the measured floor of this
    # operator. The state key is now a hash BUCKET of keys; each
    # invocation handles ~|keys|/nb keys vectorized, so dispatch count
    # drops 7.5k -> nb while the admit rule stays per-(user, type):
    # the group function sorts its rows by (user, type, ts, event_id),
    # segments them per key, and applies the identical integer-µs gap
    # test with per-key carried state. Bucket state holds one
    # (last_us, timeout_ms) pair per live key; a key's entry is pruned
    # exactly when the former per-key event-time timeout would have
    # fired (same max(last+ttl, wm+60s) formula, evaluated against the
    # current watermark), so presence/absence of state — and therefore
    # the admit set — is unchanged row for row.
    _NB = 64
    ev = (
        events_stream(spark, sf_dir)
        .withWatermark("ts", "1 hour")
        .select(
            "user_id",
            "event_type",
            "ts",
            "event_id",
            F.pmod(F.xxhash64("user_id", "event_type"), F.lit(_NB)).alias(
                "bucket"
            ),
        )
    )

    def update(key, pdfs, state: GroupState):
        import numpy as np
        import pandas as pd

        if state.hasTimedOut:
            state.remove()  # whole bucket quiet past every key's TTL
            return
        wm_ms = state.getCurrentWatermarkMs()
        lastmap: dict = {}
        if state.exists:
            su, se, sl, st_ = state.get
            for u_, e_, l_, to_ in zip(su, se, sl, st_):
                # prune = the per-key timeout firing: consulted state
                # is identical to the per-key-removal formulation
                if to_ > wm_ms:
                    lastmap[(u_, e_)] = (l_, to_)
        chunks = [pdf for pdf in pdfs if len(pdf)]
        out = {"user_id": [], "event_type": [], "event_id": []}
        if chunks:
            pdf = chunks[0] if len(chunks) == 1 else pd.concat(chunks)
            u = pdf["user_id"].to_numpy().astype("int64")
            e = pdf["event_type"].to_numpy()
            t_us = pdf["ts"].to_numpy().astype("int64") // 1000  # ns -> µs
            eid = pdf["event_id"].to_numpy().astype("int64")
            # one global (user, type, ts, event_id) sort per bucket —
            # the same total order the per-key form realized as one
            # (ts, event_id) sort per group
            order = np.lexsort((eid, t_us, e, u))
            u, e, t_us, eid = u[order], e[order], t_us[order], eid[order]
            first = np.empty(len(u), dtype=bool)
            first[0] = True
            first[1:] = (u[1:] != u[:-1]) | (e[1:] != e[:-1])
            prev = np.empty_like(t_us)
            prev[1:] = t_us[:-1]
            starts = np.flatnonzero(first)
            sentinel = np.iinfo("int64").min // 2
            for i in starts:
                hit = lastmap.get((int(u[i]), e[i]))
                prev[i] = hit[0] if hit is not None else sentinel
            adm = t_us - prev > ttl_us
            out = {
                "user_id": u[adm],
                "event_type": e[adm],
                "event_id": eid[adm],
            }
            # per-key refresh: last element of each segment; timeout
            # per the former per-key formula
            ends = np.r_[starts[1:] - 1, len(u) - 1]
            for i in ends:
                last = int(t_us[i])
                lastmap[(int(u[i]), e[i])] = (
                    last,
                    max(last // 1000 + ttl_ms, wm_ms + 60_000),
                )
        if lastmap:
            ks = list(lastmap)
            state.update(
                (
                    [k[0] for k in ks],
                    [k[1] for k in ks],
                    [lastmap[k][0] for k in ks],
                    [lastmap[k][1] for k in ks],
                )
            )
            # bucket timeout: when the LAST live key's TTL lapses
            state.setTimeoutTimestamp(max(v[1] for v in lastmap.values()))
        else:
            state.remove()
        yield pd.DataFrame(out)

    out = ev.groupBy("bucket").applyInPandasWithState(
        update,
        outputStructType="user_id long, event_type string, event_id long",
        stateStructType=(
            "users array<long>, etypes array<string>, "
            "lasts array<long>, touts array<long>"
        ),
        outputMode="append",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )
    # 16 partitions: 4 bucket groups per store; wall is now bounded by
    # the stream machinery, not per-key dispatch (64 invocations)
    return run_stream_to_table(out, "append", shuffle_partitions=16)


def stream_late_drop_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermark LATENESS OBSERVABILITY: replay the events fixture as
    three deterministic arrival files (time-slice order, with an
    md5-chosen straggler cohort arriving TWO batches late) through a
    FileStreamSource with maxFilesPerTrigger=1, and report, per
    emitted window, how many rows the watermark admitted vs the batch
    ground truth. This pins — and hash-checks against a SQL twin —
    Spark's two-watermark late-record semantics (SPARK-40925, the
    post-3.4 unified design):

      * batch k FILTERS input with the watermark in effect during
        batch k-1 (max event-time over batches <= k-2, truncated to
        ms, minus the delay) — a row is dropped iff its window END is
        <= that value;
      * batch k EVICTS-and-emits (append mode) with the watermark
        from batches <= k-1;
      * the availableNow drain runs a final no-data batch, so the
        result holds exactly the windows whose end is <= the final
        watermark — the unsealed tail stays in state (not emitted).

    One-batch-late rows therefore merge into still-live state (full
    counts), while the two-batch-late cohort targets filtered windows
    and is dropped — the report's n_late_dropped column localizes
    exactly which windows lost rows. Determinism: slices and the
    straggler cohort are integer/md5 functions of the data; arrival
    files get strictly increasing mtimes so FileStreamSource's
    (mtime, path) order is the arrival order."""
    import glob as _glob
    import os
    import shutil
    import uuid as _uuid

    from ..sources.catalog import normalize_event_ts

    ev = normalize_event_ts(spark.read.parquet(f"{sf_dir}/events.parquet"))
    st = ev.agg(
        F.min(F.unix_micros("ts")).alias("lo"),
        F.max(F.unix_micros("ts")).alias("hi"),
    ).collect()[0]
    lo, hi = st["lo"], st["hi"]
    t1 = lo + (hi - lo) // 3
    t2 = lo + (2 * (hi - lo)) // 3
    straggler = (
        F.conv(
            F.substring(F.md5(F.col("event_id").cast("string")), 1, 4), 16, 10
        ).cast("int")
        % 5
        == 0
    )
    slice_ = (
        F.when(F.unix_micros("ts") < t1, 0)
        .when(F.unix_micros("ts") < t2, 1)
        .otherwise(2)
    )
    arrival = F.least(
        slice_ + F.when(straggler, 2).otherwise(0), F.lit(2)
    )
    staged = ev.withColumn("_arrival", arrival)
    d = f"/tmp/spark_graft_late_{_uuid.uuid4().hex[:12]}"
    os.makedirs(d)
    try:
        for k in range(3):
            tmp = f"{d}/b{k}.tmp"
            staged.where(F.col("_arrival") == k).drop("_arrival").coalesce(
                1
            ).write.mode("overwrite").parquet(tmp)
            parts = _glob.glob(f"{tmp}/part-*.parquet")
            dst = f"{d}/arrival_{k}.parquet"
            if parts:
                shutil.copyfile(parts[0], dst)
            else:
                # Spark 4.x emits one part file even for an empty
                # coalesce(1) slice, but that is an implementation
                # detail: if a small/skewed fixture (or a future Spark)
                # yields no file, write an explicit schema-preserving
                # empty parquet so batch-k indexing — and therefore the
                # two-watermark replay semantics — stays aligned
                # (r9 ADVICE).
                import pyarrow.parquet as _pq

                from pyspark.sql.pandas.types import to_arrow_schema

                _pq.write_table(to_arrow_schema(ev.schema).empty_table(), dst)
            shutil.rmtree(tmp)
            os.utime(dst, (1700000000 + k * 1000,) * 2)
        stream = (
            spark.readStream.schema(ev.schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(d)
        )
        agg = (
            stream.withWatermark("ts", "5 minutes")
            .groupBy(F.window("ts", "10 minutes").alias("w"))
            .agg(F.count(F.lit(1)).alias("n_admitted"))
        )
        drained = run_stream_to_table(agg, "append")
    finally:
        shutil.rmtree(d, ignore_errors=True)
    totals = ev.groupBy(F.window("ts", "10 minutes").alias("w")).agg(
        F.count(F.lit(1)).alias("n_total")
    )
    ws = F.unix_micros(F.col("w.start")).alias("ws")
    return (
        drained.select(ws, "n_admitted")
        .join(totals.select(ws, "n_total"), "ws")
        .select(
            F.date_format(
                F.timestamp_micros(F.col("ws")), "yyyy-MM-dd HH:mm:ss"
            ).alias("wstart"),
            "n_admitted",
            "n_total",
            (F.col("n_total") - F.col("n_admitted")).alias("n_late_dropped"),
        )
        .orderBy("wstart")
    )


def stream_session_window_late_data(spark: SparkSession) -> DataFrame:
    """Session windows (30-min gap) in APPEND mode over a three-batch
    replay with an explicitly late, explicitly DROPPED row — SURVEY §7
    hard part 5's thinnest evidence, made deterministic end to end.

    Fixture (staged as three single-file parquets with increasing
    mtimes and streamed with maxFilesPerTrigger=1, so FileStreamSource's
    (mtime, path) order makes each file one micro-batch):

      batch 1: user 1 @ 10:00, 10:05  | user 2 @ 10:02
               sentinel user -1 @ 12:00 (watermark advancer)
      batch 2: user 3 @ 12:01 — a neutral spacer. Spark's
               TWO-watermark discipline (SPARK-40925) filters late
               records with the PREVIOUS batch's watermark and evicts
               with the current one, so the advancer needs one full
               batch of lag before its watermark governs late-record
               filtering. During THIS batch the eviction watermark is
               already 12:00 - 10 min = 11:50, so both 10:0x sessions
               close and emit here — before the late row ever arrives.
      batch 3: user 1 @ 10:08  <- LATE: its tentative session ends
               10:38, below the batch-3 FILTERING watermark 11:50 ->
               dropped by the state op (numRowsDroppedByWatermark = 1)
               user 2 @ 12:05  <- on time, opens a new session

    Append mode therefore emits exactly user 1 [10:00, 10:35) n=2
    (the late 10:08 did NOT extend it — without the drop the emitted
    row would read [10:00, 10:38) n=3) and user 2 [10:02, 10:32) n=1.
    The sentinel's, spacer's and user 2's 12:0x sessions end above the
    final watermark (11:55) and stay in state, unemitted. No pre-agg
    user filter is applied: Catalyst pushes any non-time predicate
    below EventTimeWatermark, which would silence the advancer
    (observed: filtering wm 09:55 instead of 11:50); none is needed,
    since unclosed sessions cannot be emitted. Every boundary carries
    >= 5 min of slack, so <= vs < edge semantics cannot flip a row.
    The SQL twin replays the same per-batch watermark arithmetic
    relationally, including the one-batch filtering lag.
    """
    import os
    import shutil
    import uuid as _uuid
    from datetime import datetime

    import pyarrow as pa
    import pyarrow.parquet as _pq

    def _ts(h: int, m: int) -> datetime:
        return datetime(2024, 1, 1, h, m, 0)

    batches = [
        [(1, _ts(10, 0)), (1, _ts(10, 5)), (2, _ts(10, 2)), (-1, _ts(12, 0))],
        [(3, _ts(12, 1))],
        [(1, _ts(10, 8)), (2, _ts(12, 5))],
    ]
    schema = pa.schema(
        [pa.field("user_id", pa.int64()), pa.field("ts", pa.timestamp("us"))]
    )
    d = f"/tmp/spark_graft_sess_late_{_uuid.uuid4().hex[:12]}"
    os.makedirs(d)
    try:
        for k, rows in enumerate(batches):
            dst = f"{d}/batch_{k}.parquet"
            _pq.write_table(
                pa.table(
                    {"user_id": [r[0] for r in rows], "ts": [r[1] for r in rows]},
                    schema=schema,
                ),
                dst,
            )
            os.utime(dst, (1700000000 + k * 1000,) * 2)
        stream = (
            spark.readStream.schema("user_id bigint, ts timestamp")
            .option("maxFilesPerTrigger", "1")
            .parquet(d)
        )
        agg = (
            stream.withWatermark("ts", "10 minutes")
            .groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
            .agg(F.count(F.lit(1)).alias("n_events"))
            .select(
                "user_id",
                F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias(
                    "session_start"
                ),
                F.date_format("w.end", "yyyy-MM-dd HH:mm:ss").alias(
                    "session_end"
                ),
                "n_events",
            )
        )
        drained = run_stream_to_table(agg, "append")
        # the memory sink outlives the staged dir; materialize rows now
        out = spark.createDataFrame(
            # bounded: memory-sink rows are already driver-resident
            drained.collect(), "user_id bigint, session_start string, "
            "session_end string, n_events bigint"
        )
    finally:
        shutil.rmtree(d, ignore_errors=True)
    return out.orderBy("user_id", "session_start")
