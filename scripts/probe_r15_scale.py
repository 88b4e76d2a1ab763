#!/usr/bin/env python
"""Round-15 scaling probe (VERDICT r14 item 5): decade-up wall ratios
for the five most expensive sweep queries of the heavy graph/stream
tier, which had plan-audit evidence but no 10x row in PLANS.md's
exponent tables. Warm min-of-2 at sf0.01 -> sf0.1 (10x data), noop
sink (engine time, no Arrow transfer).

Usage: python scripts/probe_r15_scale.py [name ...]
"""

from __future__ import annotations

import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from tb_scale_spatial_data_pipeline_spark.plans import all_queries
from tb_scale_spatial_data_pipeline_spark.session import get_spark

NAMES = [
    "percolation_robustness",
    "edge_betweenness_topk",
    "markov_removal_attribution",
    "grid_dbscan_clusters",
    "spectral_power_iteration",
]


def timed(fn, spark, sf_dir, n=2) -> float:
    best = float("inf")
    for _ in range(n):
        t0 = time.monotonic()
        fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        best = min(best, time.monotonic() - t0)
    return best


def main() -> None:
    names = sys.argv[1:] or NAMES
    spark = get_spark("probe15")
    spark.sparkContext.setLogLevel("ERROR")
    qs = all_queries()
    print("| query | sf0.01 (s) | sf0.1 (s) | ratio |")
    print("|---|---|---|---|")
    for name in names:
        fn = qs[name]
        fn(spark, "/root/testdata/sf0.01").write.format("noop").mode(
            "overwrite"
        ).save()  # warm
        t_small = timed(fn, spark, "/root/testdata/sf0.01")
        t_big = timed(fn, spark, "/root/testdata/sf0.1")
        print(
            f"| {name} | {t_small:.2f} | {t_big:.2f} | "
            f"{t_big / t_small:.2f}x |",
            flush=True,
        )


if __name__ == "__main__":
    main()
