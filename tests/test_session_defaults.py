"""The session's default shuffle width is its task-slot count.

Runs in a fresh interpreter (and so a fresh JVM): `get_spark` fetches
any session already running, so the shared test session (`cpus=8`)
would otherwise answer instead of a new `get_spark(cpus=2)`.
"""

from __future__ import annotations

import json
import subprocess
import sys

from conftest import REPO, SF_SMOKE

_PROBE = """
import json, sys
sys.path.insert(0, {repo!r})
from pyspark.sql.streaming import DataStreamWriter

started = []
_start = DataStreamWriter.start


def start(self, *args, **kwargs):
    q = _start(self, *args, **kwargs)
    started.append(q)
    return q


DataStreamWriter.start = start

from tb_scale_spatial_data_pipeline_spark.operators.spread import full_width
from tb_scale_spatial_data_pipeline_spark.session import get_spark
from tb_scale_spatial_data_pipeline_spark.streaming.events import (
    events_stream,
    run_stream_to_table,
)

spark = get_spark("session-defaults", cpus=2)
width = spark.conf.get("spark.sql.shuffle.partitions")
out = (
    events_stream(spark, {sf!r})
    .withWatermark("ts", "1 hour")
    .dropDuplicates(["user_id", "event_type"])
    .select("user_id", "event_type")
)
rows = run_stream_to_table(out, "append", shuffle_partitions=16).count()
state = sorted(
    {{
        op.numShufflePartitions
        for q in started
        for p in q.recentProgress
        for op in p.stateOperators
    }}
)
print(json.dumps({{
    "width": width,
    "full_width": full_width(spark),
    "parallelism": spark.sparkContext.defaultParallelism,
    "rows": rows,
    "state_partitions": state,
    "width_after": spark.conf.get("spark.sql.shuffle.partitions"),
}}))
spark.stop()
"""


def test_default_width_is_slot_count():
    """`get_spark(cpus=2)` with no overrides: shuffle width 2,
    `full_width` equal to `defaultParallelism`, and a stream that asks
    for 16 state partitions runs 2, with the session width restored."""
    proc = subprocess.run(
        [sys.executable, "-c", _PROBE.format(repo=str(REPO), sf=SF_SMOKE)],
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    got = json.loads(proc.stdout.strip().splitlines()[-1])
    assert got["width"] == "2"
    assert got["full_width"] == got["parallelism"] == 2
    assert got["rows"] > 0
    assert got["state_partitions"] == [2]
    assert got["width_after"] == "2"
