#!/usr/bin/env python
"""Round-14 scaling probe (VERDICT r13 item 5): re-probe the two >2x
sf0.01->sf0.1 entries one decade further up (sf0.1 -> 10x sf0.1) to
confirm the sublinear-vs-volume claims hold.

The 10x corpus is sf0.1's documents table replicated with disjoint
doc_id offsets — a TIMING fixture only (never used for oracles): it
preserves per-document gram/rotation volume exactly, so total work
scales 10x by construction.

Usage: python scripts/probe_r14_scale.py
"""

from __future__ import annotations

import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from pyspark.sql import functions as F

from tb_scale_spatial_data_pipeline_spark.session import get_spark

SF01 = "/root/testdata/sf0.1"
X10 = "/tmp/r14_probe_docs_x10"


def build_x10(spark) -> None:
    if os.path.exists(f"{X10}/documents.parquet/_SUCCESS") or os.path.exists(
        f"{X10}/documents.parquet"
    ):
        return
    docs = spark.read.parquet(f"{SF01}/documents.parquet")
    off = int(docs.agg(F.max("doc_id")).first()[0]) + 1
    reps = None
    for k in range(10):
        r = docs.withColumn("doc_id", F.col("doc_id") + F.lit(k * off))
        reps = r if reps is None else reps.unionByName(r)
    reps.write.mode("overwrite").parquet(f"{X10}/documents.parquet")


def timed(fn, spark, sf_dir, n=2) -> float:
    best = float("inf")
    for _ in range(n):
        t0 = time.monotonic()
        fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        best = min(best, time.monotonic() - t0)
    return best


def main() -> None:
    spark = get_spark("probe_r14", cpus=32)
    build_x10(spark)
    from tb_scale_spatial_data_pipeline_spark.plans.corpus_queries import (
        q_duplicate_span_fraction,
    )
    from tb_scale_spatial_data_pipeline_spark.plans.text_queries import (
        q_bwt_run_census,
    )

    for name, fn in [
        ("duplicate_span_fraction", q_duplicate_span_fraction),
        ("bwt_run_census", q_bwt_run_census),
    ]:
        # warm
        fn(spark, SF01).write.format("noop").mode("overwrite").save()
        t1 = timed(fn, spark, SF01)
        t10 = timed(fn, spark, X10)
        print(
            f"{name}: sf0.1 {t1:.2f}s -> 10x {t10:.2f}s "
            f"ratio {t10 / t1:.2f}x (volume 10x)"
        )


if __name__ == "__main__":
    main()
