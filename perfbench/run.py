#!/usr/bin/env python3
"""Benchmark entry point. Run it from the repository root:

    python3 perfbench/run.py --workload lulc_pipeline --seed 1 --seconds 12 --trace 0

One process, one ``local[nproc/2]`` SparkSession built by the package's
``get_spark``, one client thread running ops back to back (a closed
loop). A run:

1. sets up three times and keeps the median (``setup_s``): imports and
   JVM start on the first, then a fresh SparkContext, the seeded inputs
   and a first scan of them;
2. runs every op once untimed and checks its output: registry queries
   against their DuckDB oracle, the LULC pipeline against a digest
   pinned for its input raster; this pass also warms the JVM;
3. runs passes over all ops, in an order drawn from the seed, until
   ``--seconds`` have elapsed and at least four passes ran. Passes keep
   getting faster while JIT compilation settles (the first timed pass
   is 10-30% slower than the third), so the medians depend on how many
   passes ran: with ``--seconds 12``, shorter than four passes of
   either workload, every run measures exactly four.

``cpu_s`` is the CPU time of a pass: this process, the JVM and the
Python workers, less the JVM's JIT compiler threads, whose work follows
warm-up timing rather than the pass. Unlike wall time it leaves out
time spent waiting for a core, on this VM or on the host that other
guests share; it still grows when other guests slow the cores it runs
on.

With ``--trace 0`` the last stdout line carries the end-to-end metrics.
With ``--trace 1`` an untimed warm-up pass and one untraced pass are
followed by traced passes, and the line carries the per-layer metrics
(see spans.py). A line before the last carries details: pass wall,
CPU and JIT times, per-op medians, the op-tail percentile and sample
count, input sizes, bytes written, CPU steal and failures. Spans go to
``.perfbench/trace-<workload>-<seed>.jsonl``.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback

SETUPS = 3
MIN_PASSES = 4


WORKLOADS = ("lulc_pipeline", "registry_mix")


def _make(name: str):
    # imported here so that the first set-up's time includes it
    import workloads as w

    return w.Lulc() if name == "lulc_pipeline" else w.Registry()


def descendants(pid: int) -> list[int]:
    """Every live process below ``pid``, read from /proc."""
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(d))
    out, todo = [], [pid]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def peak_rss_mb(pid: int) -> dict[str, float]:
    """Peak RSS (VmHWM) of this process, the JVM and the Python
    workers, in MB per process name. psutil is not available, so read
    /proc."""
    out: dict[str, float] = {}
    for p in [pid] + descendants(pid):
        try:
            with open(f"/proc/{p}/status") as f:
                fields = dict(line.split(":", 1) for line in f)
        except OSError:
            continue
        if "VmHWM" in fields:  # absent for zombies
            name = fields["Name"].strip()
            out[name] = out.get(name, 0.0) + int(fields["VmHWM"].split()[0]) / 1024.0
    return out


def tree_cpu_s(pid: int, jvm: int) -> tuple[float, float]:
    """CPU seconds used so far by ``pid`` and every process below it,
    and by the JIT compiler threads of the JVM ``jvm`` among them. A
    process counts its user and system time plus that of its reaped
    children, so a process that ends between two readings still counts."""
    tick = os.sysconf("SC_CLK_TCK")
    total = 0
    for p in [pid] + descendants(pid):
        try:
            with open(f"/proc/{p}/stat") as f:
                total += sum(int(v) for v in f.read().rsplit(")", 1)[1].split()[11:15])
        except (OSError, IndexError, ValueError):
            continue
    jit = 0
    for t in os.listdir(f"/proc/{jvm}/task"):
        try:
            with open(f"/proc/{jvm}/task/{t}/stat") as f:
                comm, rest = f.read().split("(", 1)[1].rsplit(")", 1)
        except (OSError, IndexError, ValueError):
            continue
        if "CompilerThre" in comm:  # "C1 CompilerThre", "C2 CompilerThre"
            jit += sum(int(v) for v in rest.split()[11:13])
    return total / tick, jit / tick


def cpu_ticks() -> list[int]:
    """Machine-wide CPU time by state from /proc/stat: user, nice,
    system, idle, iowait, irq, softirq, steal."""
    with open("/proc/stat") as f:
        return [int(v) for v in f.readline().split()[1:9]]


def steal_frac(before: list[int], after: list[int]) -> float:
    """Share of CPU time the hypervisor gave to other guests."""
    d = [b - a for a, b in zip(before, after)]
    return d[7] / max(1, sum(d))


def op_tail(lat: list[float]) -> tuple[float, float, int]:
    """The highest latency percentile with at least ten samples beyond
    it: (value, percentile, samples)."""
    s = sorted(lat)
    k = max(0, len(s) - 11)
    return s[k], 100.0 * (k + 1) / len(s), len(s)


def stop_spark(spark) -> None:
    """Stop the session, then the JVM and every Python worker, and wait
    for each to end."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    kids = descendants(os.getpid())
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = gateway.proc
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.time() + 20
    while True:
        alive = [p for p in kids if os.path.exists(f"/proc/{p}")]
        if not alive:
            return
        if time.time() > deadline:
            for p in alive:
                try:
                    os.kill(p, signal.SIGKILL)
                except ProcessLookupError:
                    pass
            deadline = float("inf")
        time.sleep(0.1)


def run(args, root: str, work: str, t_start: float) -> int:
    try:
        import scripts.check_parity  # noqa: F401  (the oracle comparison)
        from tb_scale_spatial_data_pipeline_spark.session import get_spark
    except ImportError as e:
        print(f"perfbench: the package is not importable from {root}: {e}", file=sys.stderr)
        return 2
    from pyspark.sql import SparkSession

    wl = _make(args.workload)
    # A fixed set of JIT compiler threads: one that exits takes its CPU
    # time out of the per-thread readings that cpu_s subtracts. Six
    # rather than the default three for 4 cores use the cores the session
    # leaves free, so the timed passes start further into warm-up: on a
    # 4-core VM the third timed LULC pass used 7.1 s of CPU with six and
    # 8.6 s with three (medians of 5 and 4 runs).
    java_opts = {
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.environ['TMPDIR']}"
        " -XX:-UsePerfData -XX:-UseDynamicNumberOfCompilerThreads -XX:CICompilerCount=6"
    }
    spark: SparkSession | None = None
    setups, sessions = [], []
    t0 = t_start
    try:
        for _ in range(SETUPS):
            if spark is not None:
                spark.stop()
                t0 = time.perf_counter()
            t = time.perf_counter()
            spark = get_spark("perfbench", extra_conf=java_opts)
            sessions.append(time.perf_counter() - t)
            spark.sparkContext.setLogLevel("ERROR")
            inputs = wl.setup(spark, work, args.seed)
            setups.append(time.perf_counter() - t0)
        detail = {
            "workload": args.workload,
            "seed": args.seed,
            "inputs": inputs,
            "setups_s": setups,
            "phases_s": {"setup": time.perf_counter() - t_start},
        }
        result = measure(args, root, work, wl, spark, sessions, detail, t_start)
        detail["phases_s"]["measure"] = time.perf_counter() - t_start
    finally:
        if spark is not None:
            stop_spark(spark)
    detail["phases_s"]["stop"] = time.perf_counter() - t_start
    print(json.dumps({"detail": detail}))
    print(json.dumps(result))
    return 0


def measure(
    args, root: str, work: str, wl, spark, sessions: list[float], detail: dict, t_start: float
) -> dict:
    """The correctness pass, then the timed (or traced) passes. Returns
    the result line; adds what else it measured to ``detail``."""
    import spans
    from workloads import Ctx, Lulc, Registry, dir_bytes

    rng = random.Random(args.seed)
    ordered = isinstance(wl, Lulc)  # pipeline stages depend on each other
    failures: list[str] = []

    def order(ops):
        return list(ops) if ordered else rng.sample(list(ops), len(ops))

    def fresh_ctx(tracer=None) -> Ctx:
        ctx = Ctx(spark, work, tracer)
        shutil.rmtree(ctx.out_dir, ignore_errors=True)
        os.makedirs(ctx.out_dir)
        return ctx

    names = order([n for n, _ in wl.ops()])
    failures += wl.check(fresh_ctx(), names)
    attempted, failed = len(names), len(failures)
    n_pass = 0
    pid = os.getpid()
    from pyspark import SparkContext

    jvm = SparkContext._gateway.proc.pid

    def one_pass(tracer=None) -> dict:
        """Run every op once. Returns the pass's wall time, (name, wall
        time, CPU time) per op, the JIT compiler threads' CPU time, and
        the bytes the pass's sinks wrote."""
        nonlocal attempted, failed, n_pass
        n_pass += 1
        ctx = fresh_ctx(tracer)
        ops = []
        cpu0, jit0 = cpu_start = tree_cpu_s(pid, jvm)
        t = time.perf_counter()
        for name, fn in order(wl.ops()):
            spark.sparkContext.setJobGroup(f"perfbench:{name}:{n_pass}", name)
            op = tracer.begin(name) if tracer else None
            t_op = time.perf_counter()
            try:
                fn(ctx)
            except Exception:
                failed += 1
                failures.append(f"{name}: {traceback.format_exc(limit=3)}")
            wall = time.perf_counter() - t_op
            attempted += 1
            if tracer:
                tracer.end(op)
                tracer.close_op(op)
            cpu1, jit1 = tree_cpu_s(pid, jvm)
            ops.append((name, wall, (cpu1 - cpu0) - (jit1 - jit0)))
            cpu0, jit0 = cpu1, jit1
        return {
            "wall": time.perf_counter() - t,
            "jit_cpu": jit0 - cpu_start[1],
            "ops": ops,
            "bytes": dir_bytes(ctx.out_dir),
        }

    t_meas = time.perf_counter()
    detail["phases_s"]["check"] = t_meas - t_start
    if not args.trace:
        ticks = cpu_ticks()
        passes = []
        while len(passes) < MIN_PASSES or time.perf_counter() - t_meas < args.seconds:
            passes.append(one_pass())
        ops = [o for p in passes for o in p["ops"]]
        secs = [w for _, w, _ in ops]
        tail, pct, n = op_tail(secs)
        rss = peak_rss_mb(pid)
        pass_cpu = [sum(c for _, _, c in p["ops"]) for p in passes]
        per_op: dict[str, list[float]] = {}
        per_op_cpu: dict[str, list[float]] = {}
        for name, w, c in ops:
            per_op.setdefault(name, []).append(w)
            per_op_cpu.setdefault(name, []).append(c)
        op_cpu = {k: statistics.median(v) for k, v in sorted(per_op_cpu.items())}
        metrics = {
            "setup_s": (statistics.median(detail["setups_s"]), "s"),
            "cpu_s": (statistics.median(pass_cpu), "s"),
        }
        # reported, but not steady enough across runs for a bound
        detail.update(
            run_s=statistics.median(p["wall"] for p in passes),
            op_p50_s=statistics.median(secs),
            passes_s=[p["wall"] for p in passes],
            passes_cpu_s=pass_cpu,
            passes_jit_cpu_s=[p["jit_cpu"] for p in passes],
            op_median_s={k: statistics.median(v) for k, v in sorted(per_op.items())},
            op_cpu_median_s=op_cpu,
            op_cpu_p50_s=statistics.median(op_cpu.values()),
            op_tail_s=tail,
            op_tail_percentile=pct,
            op_samples=n,
            peak_rss_mb=sum(rss.values()),
            peak_rss_by_process_mb=rss,
            out_bytes=statistics.median(p["bytes"] for p in passes),
            steal_frac=steal_frac(ticks, cpu_ticks()),
        )
    else:
        one_pass()
        untraced = one_pass()["wall"]
        tracer = spans.Tracer(spark, f"{args.workload}-{args.seed}-{pid}")
        probe = spans.StreamingProbe(spark)
        walls, outb = [], []
        while not walls or time.perf_counter() - t_meas < args.seconds:
            p = one_pass(tracer)
            walls.append(p["wall"])
            outb.append(p["bytes"])
        values = tracer.per_pass_totals(Registry.spans + Lulc.spans, len(walls))
        values.update(probe.metrics(len(walls)))
        probe.close()
        ops = [s for s in tracer.spans if s["parent"] is None]
        unaccounted = [
            1.0
            - sum(c["end"] - c["start"] for c in tracer.spans if c["parent"] == o["id"])
            / (o["end"] - o["start"])
            for o in ops
        ]
        values.update(
            {
                "session.get_spark.wall_s": statistics.median(sessions),
                "raster.halo_dup_ratio": wl.halo_dup_ratio(spark)
                if isinstance(wl, Lulc)
                else 0.0,
                "sources.out_bytes": statistics.median(outb),
                "session.peak_rss_mb": sum(peak_rss_mb(pid).values()),
                "trace.overhead_s": statistics.median(walls) - untraced,
                "trace.unaccounted_frac": max(unaccounted),
            }
        )
        metrics = {k: (v, spans.unit(k)) for k, v in values.items()}
        detail.update(traced_passes_s=walls, untraced_pass_s=untraced)
        path = os.path.join(root, ".perfbench", f"trace-{args.workload}-{args.seed}.jsonl")
        with open(path, "w") as f:
            for s in tracer.spans:
                f.write(json.dumps(s) + "\n")
    detail.update(fail_frac=failed / attempted, failures=failures[:5])
    return {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }


def main(argv: list[str] | None = None) -> int:
    t_start = time.perf_counter()
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)

    root = os.getcwd()
    work = os.path.join(root, ".perfbench", f"{args.workload}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"))
    # keep Spark's scratch, Python temp files and worker imports inside
    # the checkout; workers import the package from the root
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        x for x in (root, os.environ.get("PYTHONPATH")) if x
    )
    # the inputs are a few MB; a 2 GB heap instead of the package's 8 GB
    # default keeps the run's footprint small on a shared machine
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
    # Half the cores run tasks. The driver thread, the Python workers, the
    # client and the JVM's JIT and GC threads need the rest; on a host
    # that other guests share, a session that takes every core is slowed
    # by each of them in turn. Passes take as long with 2 task slots as
    # with 4 on a 4-core VM: the inputs are small and jobs are short.
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(max(1, len(os.sched_getaffinity(0)) // 2)))
    sys.path.insert(0, root)
    try:
        return run(args, root, work, t_start)
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
