"""Tests for skew salting (physical rewrite ≡ direct aggregate) and
stage memoization (write-if-absent semantics)."""

from __future__ import annotations

import os

import pyspark.sql.functions as F

from tb_scale_spatial_data_pipeline_spark.operators.skew import salted_agg
from tb_scale_spatial_data_pipeline_spark.plans.checkpoint import materialize_stage


def test_salted_agg_equals_direct(spark):
    df = spark.createDataFrame(
        [("k" + str(i % 3), float(i)) for i in range(1000)], "k string, v double"
    )
    direct = {
        r["k"]: (r["n"], r["s"], r["mx"])
        for r in df.groupBy("k")
        .agg(F.count("*").alias("n"), F.sum("v").alias("s"), F.max("v").alias("mx"))
        .collect()
    }
    salted = {
        r["k"]: (r["n"], r["s"], r["mx"])
        for r in salted_agg(
            df,
            ["k"],
            {"n": (F.lit(1), "count"), "s": (F.col("v"), "sum"), "mx": (F.col("v"), "max")},
            n_salts=8,
        ).collect()
    }
    assert direct == salted


def test_materialize_stage_reuses(spark, tmp_path):
    path = str(tmp_path / "stage1")
    df = spark.range(100).withColumn("v", F.col("id") * 2)
    out1 = materialize_stage(df, path, spark)
    assert out1.count() == 100
    mtime = os.path.getmtime(os.path.join(path, "_SUCCESS"))
    # second call must NOT rewrite (exists-skip, SURVEY §4 memoization)
    out2 = materialize_stage(spark.range(5).withColumn("v", F.lit(0)), path, spark)
    assert os.path.getmtime(os.path.join(path, "_SUCCESS")) == mtime
    assert out2.count() == 100
    # force=True rewrites
    out3 = materialize_stage(spark.range(5).withColumn("v", F.lit(0)), path, spark, force=True)
    assert out3.count() == 5


def test_stage_root_keys_on_package_source(monkeypatch):
    """A code edit must move the stage cache: stage products built by
    an older tree are never read back by a newer one."""
    from tb_scale_spatial_data_pipeline_spark.plans import checkpoint

    digest = checkpoint.source_digest()
    assert len(digest) == 40 and digest == checkpoint.source_digest()
    before = checkpoint.stage_root("/data/sf0.01")
    monkeypatch.setattr(checkpoint, "source_digest", lambda: "0" * 40)
    after = checkpoint.stage_root("/data/sf0.01")
    assert after != before
    assert os.path.dirname(after) == os.path.dirname(before)
    assert checkpoint.stage_root("/data/sf0.1") != after
