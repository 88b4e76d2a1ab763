"""Tests for the Spark ML dual-model layer, Structured Streaming
operators, and the four pipeline compositions (rows-only semantics +
agreement between streaming and batch formulations)."""

from __future__ import annotations

import pyspark.sql.functions as F

from conftest import SF_SMOKE


def test_rf_train_predict_roundtrip(spark, tmp_path):
    from tb_scale_spatial_data_pipeline_spark.ml.classify import (
        load_model,
        predict,
        save_model,
        train_rf,
    )

    df = spark.createDataFrame(
        [(float(i % 10), float((i * 7) % 10), float(1 if i % 10 > 4 else 0)) for i in range(200)],
        "f1 double, f2 double, label double",
    )
    model = train_rf(df, ["f1", "f2"], "label", num_trees=10, max_depth=4)
    out = predict(model, df, out_col="pred")
    assert out.count() == 200
    # separable rule → high accuracy
    acc = out.where(F.col("pred") == F.col("label").cast("int")).count() / 200
    assert acc > 0.95
    assert out.select(F.min("pred_conf")).first()[0] >= 0.0

    path = str(tmp_path / "rf_model")
    save_model(model, path)
    out2 = predict(load_model(path), df, out_col="pred")
    assert out2.where(F.col("pred") >= 0).count() == 200


def test_rf_predict_after_observation(spark):
    """A forest trained after the session ran an Observation (every
    bfs_levels level counts its frontier with one) must still ship to
    tasks: a training summary on the model holds the session, which no
    longer serializes once the session has observed a metric."""
    from tb_scale_spatial_data_pipeline_spark.ml.classify import predict, train_rf
    from tb_scale_spatial_data_pipeline_spark.operators.graphs import (
        counted_checkpoint,
    )

    counted_checkpoint(spark.range(3))
    df = spark.createDataFrame(
        [(float(i % 10), float(1 if i % 10 > 4 else 0)) for i in range(100)],
        "f1 double, label double",
    )
    model = train_rf(df, ["f1"], "label", num_trees=2, max_depth=3)
    assert predict(model, df).where(F.col("pred") >= 0).count() == 100


def test_dual_model_fallback_split(spark):
    from tb_scale_spatial_data_pipeline_spark.ml.classify import (
        dual_model_predict,
        train_rf,
    )

    df = spark.createDataFrame(
        [
            (i, float(i % 5), float((i * 3) % 7), float(1 if i % 2 else 2))
            for i in range(100)
        ],
        "id int, main_feat double, shape_feat double, label double",
    )
    main = train_rf(df, ["main_feat", "shape_feat"], "label", num_trees=5, max_depth=3)
    backup = train_rf(df, ["shape_feat"], "label", num_trees=5, max_depth=3)
    probe = df.drop("label").withColumn(
        "main_feat",
        F.when(F.col("id") % 4 == 0, F.lit(None).cast("double")).otherwise(F.col("main_feat")),
    )
    out = dual_model_predict(probe, main, backup, ["main_feat"])
    assert out.count() == 100
    assert out.where(F.col("PredClass").isNull()).count() == 0


def test_streaming_tumbling_matches_batch(spark):
    from tb_scale_spatial_data_pipeline_spark.plans import all_queries

    qs = all_queries()
    stream_pdf = (
        qs["stream_tumbling_window"](spark, SF_SMOKE)
        .orderBy("wstart", "event_type")
        .toPandas()
    )
    batch_pdf = (
        qs["tumbling_window"](spark, SF_SMOKE).orderBy("wstart", "event_type").toPandas()
    )
    assert stream_pdf.equals(batch_pdf)


def test_streaming_dedup_matches_batch(spark):
    from tb_scale_spatial_data_pipeline_spark.plans import all_queries

    qs = all_queries()
    # streaming dropDuplicates keeps the first arrival; batch keeps
    # min-ts row — the sets of (user, event_type) keys must agree
    stream_keys = {
        (r["user_id"], r["event_type"])
        for r in qs["stream_dedup"](spark, SF_SMOKE).collect()
    }
    batch_keys = {
        (r["user_id"], r["event_type"])
        for r in qs["dedup_first_event"](spark, SF_SMOKE).collect()
    }
    assert stream_keys == batch_keys


def test_pipelines_produce_rows(spark):
    from tb_scale_spatial_data_pipeline_spark.plans import all_queries

    qs = all_queries()
    for name in (
        "pipeline_feature_stack",
        "pipeline_segmentation",
    ):
        df = qs[name](spark, SF_SMOKE)
        assert df.count() > 0, name


def test_stateful_totals_match_batch(spark):
    import pyspark.sql.functions as F

    from tb_scale_spatial_data_pipeline_spark.plans import all_queries
    from tb_scale_spatial_data_pipeline_spark.sources.catalog import load_table

    qs = all_queries()
    stream = {
        r["user_id"]: (r["n_events"], r["total_value"])
        for r in qs["stream_stateful_totals"](spark, SF_SMOKE).collect()
    }
    batch = {
        r["user_id"]: (r["n"], r["s"])
        for r in load_table(spark, SF_SMOKE, "events")
        .groupBy("user_id")
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("s"))
        .collect()
    }
    assert stream.keys() == batch.keys()
    for u in batch:
        assert stream[u][0] == batch[u][0]
        assert abs(stream[u][1] - batch[u][1]) < 0.02


def test_stream_foreachbatch_to_tiled_sink(spark, tmp_path):
    """Streaming → S7 integration: windowed aggregation written to a
    partitioned parquet sink via foreachBatch (the production shape:
    each micro-batch lands atomically in the tile/partition layout)."""
    import pyspark.sql.functions as F

    from tb_scale_spatial_data_pipeline_spark.streaming.events import events_stream

    out_dir = str(tmp_path / "windowed_sink")
    ev = events_stream(spark, SF_SMOKE)
    agg = (
        ev.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            F.date_format("w.start", "yyyy-MM-dd-HH").alias("wstart"),
            "event_type",
            "n",
        )
    )

    def write_batch(batch_df, batch_id):
        batch_df.write.mode("append").partitionBy("event_type").parquet(out_dir)

    q = (
        agg.writeStream.foreachBatch(write_batch)
        .outputMode("complete")
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    q.awaitTermination()
    back = spark.read.parquet(out_dir)
    assert back.count() > 0
    import os

    assert any(d.startswith("event_type=") for d in os.listdir(out_dir))
    total = back.agg(F.sum("n")).first()[0]
    assert total == spark.read.parquet(f"{SF_SMOKE}/events.parquet").count()


def test_watermark_drops_late_data(spark, tmp_path):
    """True late-data semantics: two micro-batches (second batch is
    entirely older than the first), a tight watermark, append-mode
    window aggregation — the late batch's windows are below the
    watermark and must NOT appear beyond the first batch's results."""
    import pyspark.sql.functions as F

    import glob
    import os
    import time

    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    from tb_scale_spatial_data_pipeline_spark.sources.catalog import normalize_event_ts

    ev = normalize_event_ts(spark.read.parquet(f"{SF_SMOKE}/events.parquet"))
    cutoff = ev.agg(F.expr("percentile(cast(ts as long), 0.5)")).first()[0]
    recent = ev.where(F.col("ts").cast("long") >= cutoff)
    late = ev.where(F.col("ts").cast("long") < cutoff)
    # three micro-batches: recent, a small recent nudge (Spark's
    # watermark takes effect one batch late), then the late batch
    recent.coalesce(1).write.parquet(f"{src}/b1")
    recent.limit(5).coalesce(1).write.parquet(f"{src}/b2")
    late.coalesce(1).write.parquet(f"{src}/b3")
    now = time.time()
    for i, d in enumerate(["b1", "b2", "b3"]):
        for f in glob.glob(f"{src}/{d}/part-*.parquet"):
            os.utime(f, (now - 300 + i * 100, now - 300 + i * 100))

    stream = (
        spark.readStream.schema(recent.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(f"{src}/b*")
    )
    agg = (
        stream.withWatermark("ts", "1 minute")
        .groupBy(F.window("ts", "10 minutes").alias("w"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("w.start").alias("wstart"), "n")
    )
    name = "late_data_test_result"
    q = (
        agg.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    out = spark.table(name)
    emitted = out.agg(F.sum("n")).first()[0] or 0
    n_late = late.count()
    n_fed = ev.count() + 5  # the 5-row nudge batch re-feeds rows
    # the late batch (entirely below the operative watermark) was
    # dropped: emitted counts can never cover all fed rows
    assert emitted > 0
    assert emitted <= n_fed - n_late
    # and no emitted window predates the cutoff (late windows absent)
    import datetime

    cutoff_dt = datetime.datetime.utcfromtimestamp(cutoff / 1_000_000)
    n_old = out.where(F.col("wstart") < F.lit(cutoff_dt) - F.expr("INTERVAL 10 minutes")).count()
    assert n_old == 0


def test_full_pipeline_chain_with_checkpoints(spark, tmp_path):
    from tb_scale_spatial_data_pipeline_spark.plans.full_pipeline import (
        run_full_pipeline,
    )

    out = run_full_pipeline(spark, SF_SMOKE, workdir=str(tmp_path))
    rows = out.collect()
    assert len(rows) > 0
    assert all(r["PredClass"] in (0, 1, 2, 3) for r in rows)
    assert all(r["geometry"].startswith("POLYGON((") for r in rows)
    # stage datasets were materialized (memoization surface)
    import os

    for stage in ("e1_stack", "e2_pixels", "e3_metrics"):
        assert os.path.exists(str(tmp_path / stage / "_SUCCESS"))
    # rerun with the same workdir reuses all stages and agrees
    out2 = run_full_pipeline(spark, SF_SMOKE, workdir=str(tmp_path))
    assert {(r["segment_key"], r["PredClass"]) for r in rows} == {
        (r["segment_key"], r["PredClass"]) for r in out2.collect()
    }


def test_stream_outer_join_matches_batch_in_closed_region(spark):
    """Left-outer stream-stream join vs the batch left join: inside the
    closed-watermark region (clicks whose 30-minute join window the
    final 1-hour watermark has passed) the two must agree row-for-row,
    including the NULL purchase rows that only watermark eviction can
    finalize."""
    import datetime

    from tb_scale_spatial_data_pipeline_spark.sources.catalog import load_table
    from tb_scale_spatial_data_pipeline_spark.streaming.events import (
        stream_stream_click_purchase_outer,
    )

    got = stream_stream_click_purchase_outer(spark, SF_SMOKE)

    ev = load_table(spark, SF_SMOKE, "events")
    clicks = ev.where(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"),
        F.col("user_id").alias("c_user"),
        F.col("ts").alias("c_ts"),
    )
    purchases = ev.where(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("p_ts"),
    )
    batch = clicks.join(
        purchases,
        (F.col("c_user") == F.col("p_user"))
        & (F.col("p_ts") >= F.col("c_ts"))
        & (F.col("p_ts") <= F.col("c_ts") + F.expr("INTERVAL 30 MINUTES")),
        "left",
    ).select(
        "click_id",
        "purchase_id",
        F.date_format("c_ts", "yyyy-MM-dd HH:mm:ss").alias("click_ts"),
        F.date_format("p_ts", "yyyy-MM-dd HH:mm:ss").alias("purchase_ts"),
    )
    # closed region: click windows fully passed by the final watermark
    # (min over both sides' max event time, - 1h delay - 30m window)
    maxes = ev.agg(
        F.max(F.when(F.col("event_type") == "click", F.col("ts"))).alias("mc"),
        F.max(F.when(F.col("event_type") == "purchase", F.col("ts"))).alias("mp"),
    ).collect()[0]
    horizon = (
        min(maxes["mc"], maxes["mp"])
        - datetime.timedelta(hours=1)
        - datetime.timedelta(minutes=30)
    )
    cutoff = horizon.strftime("%Y-%m-%d %H:%M:%S")

    def closed(df):
        return {
            (r["click_id"], r["purchase_id"])
            for r in df.where(F.col("click_ts") < F.lit(cutoff)).collect()
        }

    got_set, batch_set = closed(got), closed(batch)
    assert len(batch_set) > 0
    # null rows must be present (eviction actually fired)
    assert any(p is None for _, p in batch_set)
    assert got_set == batch_set


def test_transform_with_state_fallback_is_visible(spark):
    """When the v2 transformWithState path degrades to v1 (protobuf
    absent) it must WARN, never silently substitute; where protobuf
    exists, the v2 path runs warning-free and this test skips."""
    import warnings as _warnings

    import pytest

    from tb_scale_spatial_data_pipeline_spark.streaming.events import (
        stream_transform_with_state_totals,
    )

    try:
        from google.protobuf import descriptor  # noqa: F401

        pytest.skip("protobuf installed; v2 path active, no fallback to observe")
    except ImportError:
        pass
    with pytest.warns(RuntimeWarning, match="falling back"):
        out = stream_transform_with_state_totals(spark, SF_SMOKE)
    assert out.count() > 0


def test_stream_full_outer_join_matches_batch_in_closed_region(spark):
    """Full-outer stream-stream join vs the batch full join: inside the
    region closed on BOTH sides (click windows passed AND purchase
    timestamps passed by the final watermark) the two must agree,
    including null rows from both directions."""
    import datetime

    from tb_scale_spatial_data_pipeline_spark.sources.catalog import load_table
    from tb_scale_spatial_data_pipeline_spark.streaming.events import (
        stream_stream_click_purchase_full_outer,
    )

    got = stream_stream_click_purchase_full_outer(spark, SF_SMOKE)

    ev = load_table(spark, SF_SMOKE, "events")
    clicks = ev.where(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"),
        F.col("user_id").alias("c_user"),
        F.col("ts").alias("c_ts"),
    )
    purchases = ev.where(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("p_ts"),
    )
    batch = clicks.join(
        purchases,
        (F.col("c_user") == F.col("p_user"))
        & (F.col("p_ts") >= F.col("c_ts"))
        & (F.col("p_ts") <= F.col("c_ts") + F.expr("INTERVAL 30 MINUTES")),
        "full",
    ).select(
        "click_id",
        "purchase_id",
        F.date_format("c_ts", "yyyy-MM-dd HH:mm:ss").alias("click_ts"),
        F.date_format("p_ts", "yyyy-MM-dd HH:mm:ss").alias("purchase_ts"),
    )
    maxes = ev.agg(
        F.max(F.when(F.col("event_type") == "click", F.col("ts"))).alias("mc"),
        F.max(F.when(F.col("event_type") == "purchase", F.col("ts"))).alias("mp"),
    ).collect()[0]
    horizon = (
        min(maxes["mc"], maxes["mp"])
        - datetime.timedelta(hours=1)
        - datetime.timedelta(minutes=30)
    )
    cutoff = horizon.strftime("%Y-%m-%d %H:%M:%S")

    def closed(df):
        # a row is in the closed region if its click side is closed
        # (click_ts < cutoff) or, for click-less rows, its purchase
        # side is (purchase_ts < cutoff)
        return {
            (r["click_id"], r["purchase_id"])
            for r in df.where(
                F.coalesce(F.col("click_ts"), F.col("purchase_ts")) < F.lit(cutoff)
            ).collect()
        }

    got_set, batch_set = closed(got), closed(batch)
    assert len(batch_set) > 0
    # null rows in BOTH directions must be present
    assert any(p is None for _, p in batch_set)
    assert any(c is None for c, _ in batch_set)
    assert got_set == batch_set


def test_foreachbatch_idempotent_replay(spark, tmp_path):
    """Exactly-once foreachBatch sink pattern: each micro-batch writes
    into its own _batch=<id> partition with dynamic partition
    overwrite, so REPLAYING a batch (the at-least-once delivery case
    after a crash between sink write and checkpoint commit) overwrites
    its own partition instead of appending duplicates."""
    import pyspark.sql.functions as F

    out_dir = str(tmp_path / "idem_sink")
    src = spark.range(100).select(
        (F.col("id") % 7).alias("k"), F.col("id").cast("double").alias("v")
    )

    def write_batch(batch_df, batch_id):
        (
            batch_df.withColumn("_batch", F.lit(batch_id))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("_batch")
            .parquet(out_dir)
        )

    agg = src.groupBy("k").agg(F.count(F.lit(1)).alias("n"))
    write_batch(agg, 0)
    once = spark.read.parquet(out_dir).collect()
    # replay the same batch id — the at-least-once case
    write_batch(agg, 0)
    write_batch(agg, 0)
    twice = spark.read.parquet(out_dir).collect()
    assert sorted(map(tuple, once)) == sorted(map(tuple, twice))
    assert len(twice) == 7  # no duplicates
    # a NEW batch id lands alongside, untouched
    write_batch(agg.withColumn("n", F.col("n") + 100), 1)
    allb = spark.read.parquet(out_dir)
    assert allb.count() == 14
    assert allb.where("_batch = 0").count() == 7


def test_checkpoint_resume_processes_only_new_files(spark, tmp_path):
    """End-to-end incremental contract: an availableNow run drains the
    source and checkpoints; files arriving later are picked up by a
    SECOND run from the SAME checkpoint — each event lands in the sink
    exactly once across both runs (no reprocessing, no loss)."""
    import glob
    import os
    import time

    import pyspark.sql.functions as F

    from tb_scale_spatial_data_pipeline_spark.sources.catalog import normalize_event_ts

    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    sink = str(tmp_path / "sink")
    ev = normalize_event_ts(spark.read.parquet(f"{SF_SMOKE}/events.parquet"))
    half = ev.where("event_id % 2 = 0")
    rest = ev.where("event_id % 2 = 1")
    half.coalesce(1).write.parquet(f"{src}/a")
    now = time.time()
    for f in glob.glob(f"{src}/a/part-*.parquet"):
        os.utime(f, (now - 100, now - 100))

    def run_once():
        q = (
            spark.readStream.schema(ev.schema)
            .parquet(f"{src}/*")
            .writeStream.foreachBatch(
                lambda df, bid: df.write.mode("append").parquet(sink)
            )
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    run_once()
    n1 = spark.read.parquet(sink).count()
    assert n1 == half.count()
    # late-arriving files: the resumed query must process ONLY these
    rest.coalesce(1).write.parquet(f"{src}/b")
    run_once()
    out = spark.read.parquet(sink)
    assert out.count() == ev.count()
    # exactly once: no event id appears twice
    assert out.groupBy("event_id").count().where("count > 1").count() == 0


def test_drop_duplicates_within_watermark(spark):
    """dropDuplicatesWithinWatermark — the bounded-state dedup API for
    unbounded key domains: state for a key is held only within the
    watermark horizon (classic dropDuplicates holds it forever). On a
    bounded fixture whose duplicates always arrive inside the horizon,
    the kept key set must equal the batch distinct."""
    import pyspark.sql.functions as F

    from tb_scale_spatial_data_pipeline_spark.sources.catalog import load_table
    from tb_scale_spatial_data_pipeline_spark.streaming.events import (
        events_stream,
        run_stream_to_table,
    )

    ev = events_stream(spark, SF_SMOKE)
    deduped = ev.withWatermark("ts", "31 days").dropDuplicatesWithinWatermark(
        ["user_id", "event_type"]
    )
    got = run_stream_to_table(
        deduped.select("user_id", "event_type"), "append"
    )
    stream_keys = {(r["user_id"], r["event_type"]) for r in got.collect()}
    batch_keys = {
        (r["user_id"], r["event_type"])
        for r in load_table(spark, SF_SMOKE, "events")
        .select("user_id", "event_type")
        .distinct()
        .collect()
    }
    assert stream_keys == batch_keys
