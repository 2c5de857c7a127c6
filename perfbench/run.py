"""The lakehouse benchmark: one seeded workload, timed, checked, reported.

    python3 perfbench/run.py --workload pc_query --seed 1 --seconds 10 --trace 0

Run it from the root of a source checkout: the package is imported from
there, and every file the run writes stays under ``.bench_work/`` in it.
A run sets the workload up once to warm the JVM and the Python workers,
sets it up ``SETUPS`` more times (timed), runs its warm-up reads untimed
until the JIT has compiled the read paths, then runs as many whole
cycles of it as take about ``--seconds`` on a 4-core box.  The last line
of standard output is one JSON object with ``correct``, ``attempted``,
``failed`` and ``metrics``: the end-to-end metrics with ``--trace 0``,
the per-layer metrics with ``--trace 1``.  A traced run makes one timed
set-up and also runs every read a second time with tracing paused, to
report the tracing overhead.  The line before the result records the box
state and a fixed canary probe, taken outside every timed region.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import resource
import shutil
import subprocess
import sys
import time
import traceback

SETUPS = 2  # timed set-ups after the warm-up one; setup_s is their median
DRIVER_MEMORY = "2g"


def box_state() -> dict:
    mem = {}
    with open("/proc/meminfo") as f:
        for line in f:
            key, val = line.split(":", 1)
            if key in ("MemTotal", "MemAvailable"):
                mem[key] = int(val.split()[0])
    with open("/proc/loadavg") as f:
        load = [float(v) for v in f.read().split()[:3]]
    return {"nproc": len(os.sched_getaffinity(0)), "loadavg": load, "meminfo_kb": mem}


def cpu_ticks() -> list[int]:
    """The machine's CPU time counters from ``/proc/stat``; the eighth is
    steal, time the hypervisor gave this VM's CPUs to others."""
    with open("/proc/stat") as f:
        return [int(v) for v in f.readline().split()[1:9]]


def vm_hwm_kb(pid: int | str) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def start_session(name: str, work: str, trace_dir: str | None):
    from agile_lakehouse_spark import get_session

    tmp = os.path.join(work, "tmp")
    conf = {
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
        "spark.ui.showConsoleProgress": "false",
    }
    if trace_dir:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": trace_dir,
            "spark.eventLog.compress": "true",
            "spark.eventLog.compression.codec": "zstd",
        })
    return get_session(f"perfbench-{name}", extra_conf=conf)


def stop_session(spark) -> None:
    """Stop Spark and wait until its JVM (and with it the Python workers
    it forked) has exited."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def canary(spark) -> float:
    """A fixed Spark job, timed three times after one warm run."""
    q = lambda: spark.range(0, 4_000_000, numPartitions=4).selectExpr("sum(id % 7)").collect()  # noqa: E731
    q()
    runs = []
    for _ in range(3):
        t0 = time.perf_counter()
        q()
        runs.append(time.perf_counter() - t0)
    return sorted(runs)[1]


def timed(op, tracer, traced: bool = True):
    """``op`` run once, in its span unless ``traced`` is false: ``(ms, answer)``."""
    with contextlib.nullcontext() if traced else tracer.paused():
        t0 = time.perf_counter()
        with tracer.span(op.layer, op.name):
            got = op.run()
        return (time.perf_counter() - t0) * 1000.0, got


def warm_up(wl, tracer) -> None:
    """Runs the workload's warm-up reads, untimed and untraced; a wrong
    answer here is an error."""
    with tracer.paused():
        for op in wl.warmup_ops():
            if not op.check(op.run()):
                raise RuntimeError(f"warm-up read {op.name} gave a wrong answer")


def run_loop(wl, tracer, cycles: int) -> list[dict]:
    """Runs ``cycles`` whole cycles of the workload; returns the op records.

    When tracing, each read (which changes no state) also runs with
    tracing paused, so the two timings give the tracing overhead without
    a second run.  The paused pass goes first on every other read of the
    same name, so each kind of read runs paused-first in half its pairs."""
    from perfbench.common import result_rows

    records = []
    seen: dict[str, int] = {}  # reads so far, by name
    ledger = getattr(wl, "ledger", None)
    for c in range(cycles):
        for op in wl.cycle(c):
            i = len(records)
            tracer.op = i
            rec = {"i": i, "kind": op.kind, "name": op.name, "layer": op.layer,
                   "user_bytes": op.user_bytes, "ok": False, "rows": 0, "ms": 0.0}
            passes = (True,)
            if tracer.enabled and op.kind == "read":
                k = seen[op.name] = seen.get(op.name, -1) + 1
                passes = (k % 2 == 0, k % 2 == 1)
            t0 = time.perf_counter()
            try:
                answers = []
                for traced in passes:
                    ms, got = timed(op, tracer, traced)
                    rec["ms" if traced else "untraced_ms"] = ms
                    answers.append(got)
                rec["ok"] = all(bool(op.check(got)) for got in answers)
                rec["rows"] = result_rows(answers[passes.index(True)])
            except Exception:
                rec["ms"] = rec["ms"] or (time.perf_counter() - t0) * 1000.0
                traceback.print_exc(file=sys.stderr)
            tracer.op = None
            if not rec["ok"]:
                print(f"perfbench: operation {i} ({op.name}) failed", file=sys.stderr)
            if tracer.enabled and op.probe is not None:
                rec["probe"] = op.probe()
            rec["written"] = ledger.new_bytes() if ledger else 0
            records.append(rec)
    return records


def e2e_metrics(wl, records, setup_times) -> dict:
    from perfbench.trace import geomean, median

    ok = [r for r in records if r["ok"]]
    busy_s = sum(r["ms"] for r in records) / 1000.0
    written = sum(r["written"] for r in records)
    submitted = sum(r["user_bytes"] for r in records)
    return {
        "setup_s": (median(setup_times), "s"),
        "read_ms": (geomean(r["ms"] for r in records if r["kind"] == "read"), "ms"),
        "ops_per_s": (len(ok) / busy_s if busy_s else 0.0, "1/s"),
        "write_amp": (written / submitted if submitted else wl.write_amp(), "ratio"),
        "space_amp": (wl.space_amp(), "ratio"),
    }


def workload(name: str):
    if name == "pc_query":
        from perfbench.pc_query import PcQuery

        return PcQuery
    if name == "lake_mutate":
        from perfbench.lake_mutate import LakeMutate

        return LakeMutate
    raise SystemExit(f"perfbench: unknown workload {name!r} (pc_query | lake_mutate)")


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "agile_lakehouse_spark", "__init__.py")):
        print("perfbench: run from the root of a checkout (agile_lakehouse_spark/ not found)",
              file=sys.stderr)
        return 2
    cls = workload(args.workload)

    work = os.path.join(root, ".bench_work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    trace_dir = None
    if args.trace:
        trace_dir = os.path.join(root, ".bench_work", "traces", f"{args.workload}-seed{args.seed}")
        shutil.rmtree(trace_dir, ignore_errors=True)
        os.makedirs(trace_dir)
    # Spark, its JVM and the Python workers inherit these
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [root] + [v for v in os.environ.get("PYTHONPATH", "").split(os.pathsep) if v])
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    sys.path.insert(0, root)

    from perfbench.trace import Tracer

    ticks0 = cpu_ticks()
    spark = start_session(args.workload, work, trace_dir)
    try:
        tracer = Tracer(spark.sparkContext if args.trace else None)
        wl = cls(spark, os.path.join(work, "data"), args.seed, tracer)
        # the first set-up pays for JVM and Python-worker warm-up, which is
        # not the package's cost: it is kept out of setup_s.  A traced run
        # makes one timed set-up, which keeps it short.
        wl.setup(warm_up=True)
        warmup_s = wl.setup_s
        setup_times = []
        for _ in range(1 if args.trace else SETUPS):
            wl.setup()
            setup_times.append(wl.setup_s)
        # in one JVM a read keeps getting faster for several cycles, as the
        # JIT compiles its paths; the timed cycles start once it has
        warm_up(wl, tracer)
        box = {**box_state(), "canary_s": canary(spark)}
        # a fixed amount of work, sized to the requested time on a 4-core
        # box: the same operations on every run, however fast the box is
        cycles = max(1, round(args.seconds / wl.cycle_s))
        records = run_loop(wl, tracer, cycles)
        peak_rss_mb = (
            vm_hwm_kb(spark.sparkContext._gateway.proc.pid)
            + resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
        ) / 1024.0
        if args.trace:
            tracer.resolve()
        else:
            metrics = e2e_metrics(wl, records, setup_times)
    finally:
        stop_session(spark)
    failed = sum(1 for r in records if not r["ok"])
    if args.trace:
        from perfbench.layers import per_layer
        from perfbench.trace import read_event_log, rollup

        tracer.write(os.path.join(os.path.dirname(trace_dir), f"{args.workload}-seed{args.seed}.spans.jsonl"))
        groups = rollup(read_event_log(trace_dir))
        metrics = per_layer(wl, records, tracer, groups)
        metrics["mem.peak_rss_mb"] = (peak_rss_mb, "MB")
    shutil.rmtree(work, ignore_errors=True)
    ticks = [b - a for a, b in zip(ticks0, cpu_ticks())]
    box["steal_share"] = ticks[7] / max(sum(ticks), 1)
    info = {"box": box, "cycles": cycles, "warmup_setup_s": warmup_s, "setup_runs_s": setup_times,
            "peak_rss_mb": peak_rss_mb}
    result = {
        "correct": failed == 0,
        "attempted": len(records),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    print(json.dumps(info))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    if __package__ in (None, ""):
        sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    sys.exit(main())
