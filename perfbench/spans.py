"""Per-span counters read from Spark's own status store, from outside
the package.

A span is one timed call into a layer (``<layer>.<function>``). When a
span closes, the jobs Spark submitted inside its window are looked up
in ``sc.statusStore()`` through py4j (the UI stays off) and reduced to
counters: jobs, tasks, executor run and CPU time, shuffle write bytes,
spill bytes, and the span time not covered by any job. Jobs are
attributed by submission time rather than by job group, because a
streaming query runs its micro-batches under a job group of its own;
one client thread runs every op, so a job submitted inside a span
belongs to it. The store keeps only the last 1000 jobs, so each span is
read as soon as it closes.
"""

from __future__ import annotations

import json
import statistics
import threading
import time
from contextlib import contextmanager

COUNTERS = (
    "wall_s",
    "outside_jobs_s",
    "jobs",
    "tasks",
    "exec_run_s",
    "exec_cpu_s",
    "shuffle_write_bytes",
    "spill_bytes",
)


def unit(metric: str) -> str:
    """Unit of a per-layer metric, from its counter name."""
    if metric.endswith("_ms"):
        return "ms"
    if metric.endswith("_mb"):
        return "MB"
    if metric.endswith("_s"):
        return "s"
    if metric.endswith("bytes"):
        return "B"
    if metric.endswith(("_ratio", "_frac")):
        return "ratio"
    return "count"


class StatusStore:
    """Thin reader over ``AppStatusStore``. py4j cannot fill in Scala
    default arguments, so every argument is passed explicitly."""

    def __init__(self, spark):
        sc = spark.sparkContext
        jvm = sc._jvm
        self._jvm = jvm
        self._store = sc._jsc.sc().statusStore()
        self._no_quantiles = sc._gateway.new_array(jvm.double, 0)
        self._mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        scala_module = getattr(jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$")
        self._mapper.registerModule(getattr(scala_module, "MODULE$"))

    def _json(self, obj):
        return json.loads(self._mapper.writeValueAsString(obj))

    def jobs_since(self, since_ms: int) -> list[dict]:
        jobs = self._json(self._store.jobsList(self._jvm.java.util.ArrayList()))
        return [j for j in jobs if (j.get("submissionTime") or 0) >= since_ms]

    def stage_attempts(self, stage_id: int) -> list[dict]:
        return self._json(
            self._store.stageData(
                stage_id, False, self._jvm.java.util.ArrayList(), False, self._no_quantiles
            )
        )


def _covered_s(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of [start, end) intervals, in seconds."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


class Tracer:
    """Records spans in memory and turns each into counters when it
    closes. Spans nest under the op that opened them."""

    def __init__(self, spark, run_id: str):
        self.store = StatusStore(spark)
        self.run_id = run_id
        self.spans: list[dict] = []
        self._open: list[dict] = []

    def begin(self, name: str) -> dict:
        span = {
            "name": name,
            "run_id": self.run_id,
            "id": len(self.spans),
            "parent": self._open[-1]["id"] if self._open else None,
            "start": time.time(),
        }
        self.spans.append(span)
        self._open.append(span)
        return span

    def end(self, span: dict) -> None:
        span["end"] = time.time()
        self._open.remove(span)

    @contextmanager
    def span(self, name: str):
        s = self.begin(name)
        try:
            yield s
        finally:
            self.end(s)

    def close_op(self, op: dict) -> None:
        """Attach counters to ``op`` and to each of its child spans."""
        jobs = self.store.jobs_since(int(op["start"] * 1000) - 1)
        stages: dict[int, dict] = {}
        for j in jobs:
            for sid in j["stageIds"]:
                if sid not in stages:
                    attempts = self.store.stage_attempts(sid)
                    stages[sid] = {
                        k: sum(a.get(k) or 0 for a in attempts)
                        for k in (
                            "numCompleteTasks",
                            "executorRunTime",
                            "executorCpuTime",
                            "shuffleWriteBytes",
                            "memoryBytesSpilled",
                            "diskBytesSpilled",
                        )
                    }
        for span in [op] + [s for s in self.spans if s["parent"] == op["id"]]:
            lo, hi = span["start"] * 1000, span["end"] * 1000
            mine = [j for j in jobs if lo <= j["submissionTime"] <= hi]
            sids = {sid for j in mine for sid in j["stageIds"]}
            iv = [
                (j["submissionTime"] / 1000, min(j.get("completionTime") or hi, hi) / 1000)
                for j in mine
            ]
            wall = span["end"] - span["start"]
            span["counters"] = {
                "wall_s": wall,
                "outside_jobs_s": max(0.0, wall - _covered_s(iv)),
                "jobs": len(mine),
                "tasks": sum(stages[s]["numCompleteTasks"] for s in sids),
                "exec_run_s": sum(stages[s]["executorRunTime"] for s in sids) / 1e3,
                "exec_cpu_s": sum(stages[s]["executorCpuTime"] for s in sids) / 1e9,
                "shuffle_write_bytes": sum(stages[s]["shuffleWriteBytes"] for s in sids),
                "spill_bytes": sum(
                    stages[s]["memoryBytesSpilled"] + stages[s]["diskBytesSpilled"]
                    for s in sids
                ),
            }

    def per_pass_totals(self, names: list[str], passes: int) -> dict[str, float]:
        """``<span>.<counter>``, summed over every closed span of that
        name and divided by the number of traced passes."""
        out = {f"{n}.{c}": 0.0 for n in names for c in COUNTERS}
        for s in self.spans:
            if s["name"] in names and "counters" in s:
                for c, v in s["counters"].items():
                    out[f"{s['name']}.{c}"] += v / passes
        return out


class StreamingProbe:
    """Captures micro-batch durations and state-store size of every
    streaming query through a ``StreamingQueryListener`` registered by
    the benchmark itself."""

    def __init__(self, spark):
        from pyspark.sql.streaming import StreamingQueryListener

        probe = self
        self.batch_ms: list[float] = []
        self.state: dict[str, tuple[int, int]] = {}
        self._lock = threading.Lock()

        class _Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                p = event.progress
                rows = sum(op.numRowsTotal for op in p.stateOperators)
                mem = sum(op.memoryUsedBytes for op in p.stateOperators)
                with probe._lock:
                    probe.batch_ms.append(float(p.batchDuration))
                    # state at the last batch of each query run
                    probe.state[str(p.runId)] = (rows, mem)

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        self._listener = _Listener()
        self._spark = spark
        spark.streams.addListener(self._listener)

    def metrics(self, passes: int) -> dict[str, float]:
        # progress events reach Python asynchronously; let the bus drain
        self._spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
        time.sleep(0.5)
        with self._lock:
            return {
                "streaming.batches": len(self.batch_ms) / passes,
                "streaming.batch_p50_ms": statistics.median(self.batch_ms)
                if self.batch_ms
                else 0.0,
                "streaming.state_rows": sum(r for r, _ in self.state.values()) / passes,
                "streaming.state_mem_bytes": sum(m for _, m in self.state.values()) / passes,
            }

    def close(self) -> None:
        self._spark.streams.removeListener(self._listener)
