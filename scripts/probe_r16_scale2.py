#!/usr/bin/env python
"""Round-16 second-decade scaling probe (VERDICT r15 item 3): every
prior exponent row is sf0.01 -> sf0.1 (one decade). This probe
synthesizes a ~sf1 TIMING fixture (10x sf0.1) in /tmp and re-runs the
ten most expensive registry queries one decade further up, converting
"designed for 100 TB" from extrapolation to a second measured decade.

The replica follows the r14 precedent (probe_r14_scale.py): each base
table is unioned 10x with DISJOINT key offsets, keeping every foreign
key internally consistent per replica (orderkey/custkey/partkey/
suppkey/event_id/user_id/doc_id/vec_id all shift together), so the
fixture is 10 independent shards of sf0.1 — row volume 10x, per-entity
volume constant, the same growth model TPC-H uses between scale
factors. Embedding vectors get a k*1e-3 per-replica nudge so the ANN
tier sees 10x DENSITY (10x candidates per bucket) rather than
degenerate exact-duplicate stacks. region/nation stay fixed (dims).
TIMING fixture only — never used for oracles.

Usage: python scripts/probe_r16_scale2.py [name ...]
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
REPLICA = "/tmp/r16_sf1_replica"

NAMES = [
    "percolation_robustness",
    "matrix_profile_motif",
    "grid_dbscan_clusters",
    "markov_removal_attribution",
    "siegel_repeated_median",
    "ivfpq_nprobe_rerank",
    "hub_removal_resilience",
    "lsh_multitable_ann",
    "pq_rerank_search",
    "spectral_power_iteration",
]

# table -> {column: offset-key-space}; every replica k shifts each key
# column by k * (max(key) + 1) of ITS key space, so cross-table joins
# stay consistent inside a replica and disjoint across replicas
KEYS = {
    "lineitem": {"l_orderkey": "ord", "l_partkey": "part", "l_suppkey": "supp"},
    "orders": {"o_orderkey": "ord", "o_custkey": "cust"},
    "customer": {"c_custkey": "cust"},
    "supplier": {"s_suppkey": "supp"},
    "part": {"p_partkey": "part"},
    "events": {"event_id": "ev", "user_id": "user"},
    "documents": {"doc_id": "doc"},
    "embeddings": {"vec_id": "vec"},
}
SPACES = {
    "ord": ("orders", "o_orderkey"),
    "cust": ("customer", "c_custkey"),
    "part": ("part", "p_partkey"),
    "supp": ("supplier", "s_suppkey"),
    "ev": ("events", "event_id"),
    "user": ("events", "user_id"),
    "doc": ("documents", "doc_id"),
    "vec": ("embeddings", "vec_id"),
}


def build_replica(spark) -> None:
    if os.path.exists(os.path.join(REPLICA, "_BUILT")):
        return
    os.makedirs(REPLICA, exist_ok=True)
    offs = {}
    for space, (tbl, col) in SPACES.items():
        df = spark.read.parquet(f"{SF01}/{tbl}.parquet")
        offs[space] = int(df.agg(F.max(col)).first()[0]) + 1
    for tbl in ("region", "nation"):
        spark.read.parquet(f"{SF01}/{tbl}.parquet").write.mode(
            "overwrite"
        ).parquet(f"{REPLICA}/{tbl}.parquet")
    for tbl, cols in KEYS.items():
        base = spark.read.parquet(f"{SF01}/{tbl}.parquet")
        reps = None
        for k in range(10):
            r = base
            for col, space in cols.items():
                r = r.withColumn(col, F.col(col) + F.lit(k * offs[space]))
            if tbl == "embeddings" and k > 0:
                # density nudge: keep LSH/IVF geometry, avoid exact dups
                r = r.withColumn(
                    "embedding",
                    F.transform(
                        "embedding",
                        lambda v: (v + F.lit(float(k) * 1e-3)).cast("float"),
                    ),
                )
            reps = r if reps is None else reps.unionByName(r)
        reps.write.mode("overwrite").parquet(f"{REPLICA}/{tbl}.parquet")
        print(f"replica: {tbl} x10 written", flush=True)
    open(os.path.join(REPLICA, "_BUILT"), "w").write("ok\n")


def timed(fn, spark, sf_dir, n=2) -> float:
    best = float("inf")
    for _ in range(n):
        t0 = time.monotonic()
        fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        best = min(best, time.monotonic() - t0)
    return best


def main() -> None:
    names = sys.argv[1:] or NAMES
    spark = get_spark("probe16")
    spark.sparkContext.setLogLevel("ERROR")
    build_replica(spark)
    from tb_scale_spatial_data_pipeline_spark.plans import all_queries

    qs = all_queries()
    print("| query | sf0.1 (s) | ~sf1 (s) | ratio |")
    print("|---|---|---|---|")
    for name in names:
        fn = qs[name]
        fn(spark, SF01).write.format("noop").mode("overwrite").save()  # warm
        t1 = timed(fn, spark, SF01)
        t10 = timed(fn, spark, REPLICA)
        print(
            f"| {name} | {t1:.2f} | {t10:.2f} | {t10 / t1:.2f}x |",
            flush=True,
        )


if __name__ == "__main__":
    main()
