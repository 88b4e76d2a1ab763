#!/usr/bin/env python
"""Full-registry timing sweep: one timed repeat of EVERY queries()
entry at a small sf, written as one JSON artifact. This is regression
VISIBILITY, not a headline benchmark — the 43-query headline set in
bench.py stays the tracked number; this sweep exists so a plan
regression in any of the other ~370 registered queries (say a CC
star-contraction going quadratic) shows up as a per-query delta
instead of a driver timeout two rounds later.

Timing protocol: one repeat per query (the sweep is O(registry) Spark
jobs; minutes at sf0.01), wall seconds around a full materialization
(collect-to-driver via toPandas, same surface the parity gate uses);
then every entry over TAIL_THRESHOLD_SEC gets a SECOND repeat and
records the min (cold numbers conflate one-time engine init — e.g.
the first streaming query pays ~6 s of streaming-engine setup — with
real regression signal; min-of-2 separates them). The `repeats` field
records how many runs each timing is the min of.

Usage:
    python scripts/bench_full.py [sf_dir] [out_path]
"""

from __future__ import annotations

import json
import os
import sys
import time
import traceback

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from tb_scale_spatial_data_pipeline_spark.session import get_spark


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    out = sys.argv[2] if len(sys.argv) > 2 else "BENCH_FULL_r11.json"

    import os

    import __spark_entry__ as entrymod

    qs = entrymod.queries()
    spark = get_spark("bench-full")

    # resume: a partial artifact from an interrupted sweep is picked
    # up and only the missing names run
    timings: dict[str, float] = {}
    errors: dict[str, str] = {}
    repeats: dict[str, int] = {}
    if os.path.exists(out):
        try:
            prev = json.load(open(out))
            timings = dict(prev.get("queries", {}))
            errors = dict(prev.get("errors", {}))
            repeats = dict(prev.get("repeats", {}))
        except Exception:
            pass

    # one warm-up action so JVM/codegen startup is not billed to the
    # first registry entry
    spark.range(1000).selectExpr("sum(id)").collect()

    t_all = time.time()

    def dump() -> None:
        doc = {
            "metric": "full_registry_sweep_sec",
            "value": round(sum(timings.values()), 1),
            "unit": "sec",
            "sf": sf_dir,
            "n_queries": len(timings),
            "n_errors": len(errors),
            "queries": timings,
            "errors": errors,
            "repeats": repeats,
        }
        tmp = out + ".part"
        with open(tmp, "w") as f:
            json.dump(doc, f, indent=1, sort_keys=True)
        os.replace(tmp, out)

    done_since_dump = 0
    for name, fn in qs.items():
        if name in timings or name in errors:
            continue
        t0 = time.time()
        try:
            pdf = fn(spark, sf_dir).toPandas()
            timings[name] = round(time.time() - t0, 3)
            print(f"{timings[name]:8.2f}s  {name} ({len(pdf)} rows)", flush=True)
        except Exception:
            errors[name] = traceback.format_exc().splitlines()[-1]
            print(f"   ERROR  {name}: {errors[name]}", flush=True)
        done_since_dump += 1
        if done_since_dump >= 10:
            dump()
            done_since_dump = 0

    dump()

    # min-of-2 for the slow tail: anything over the threshold gets a
    # warm second run; the min is the regression-tracking number
    TAIL_THRESHOLD_SEC = 3.0
    tail = sorted(
        n for n, t in timings.items()
        if t > TAIL_THRESHOLD_SEC and repeats.get(n, 1) < 2
    )
    for name in tail:
        t0 = time.time()
        try:
            qs[name](spark, sf_dir).toPandas()
            warm = round(time.time() - t0, 3)
            timings[name] = min(timings[name], warm)
            repeats[name] = 2
            print(f"{warm:8.2f}s  {name} (repeat, min={timings[name]})", flush=True)
        except Exception:
            errors[name] = traceback.format_exc().splitlines()[-1]
        dump()

    dump()
    print(f"sweep wall: {time.time() - t_all:.1f}s", flush=True)
    doc = json.load(open(out))
    print(json.dumps({k: doc[k] for k in ("metric", "value", "n_queries", "n_errors")}))
    return 1 if errors else 0


if __name__ == "__main__":
    raise SystemExit(main())
