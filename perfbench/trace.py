"""Spans, Spark job-group tagging and the event-log rollup.

A span is one call from the benchmark into a layer of the package.  Each
span runs under its own Spark job group, so every job Spark starts inside
it can be attributed back: live through ``statusTracker()`` (job and task
counts) and after the run through the event log (executor time, shuffle,
spill, SQL operator metrics).  Spans are kept in memory and written out
once, when the run ends.
"""

from __future__ import annotations

import contextlib
import glob
import json
import math
import os
import statistics
import time
from dataclasses import asdict, dataclass, field


def median(values) -> float:
    values = list(values)
    return float(statistics.median(values)) if values else 0.0


def geomean(values) -> float:
    """Geometric mean: every sample counts, whatever its operation type."""
    values = list(values)
    return math.exp(sum(math.log(v) for v in values) / len(values)) if values else 0.0


def tail_percentile(values, min_beyond: int = 10) -> tuple[float, float]:
    """The highest of the usual tail percentiles that still has at least
    ``min_beyond`` samples above it, as ``(percent, value)``; ``(0, 0)``
    when even p50 lacks them.  Nearest-rank, so the value is a sample."""
    xs = sorted(values)
    n = len(xs)
    best = (0.0, 0.0)
    for pct in (50.0, 90.0, 95.0, 99.0, 99.9):
        rank = max(1, math.ceil(round(pct * n / 100.0, 9)))
        if n - rank < min_beyond:
            break
        best = (pct, float(xs[rank - 1]))
    return best


def union_ms(intervals) -> float:
    """Total length of the union of ``(start, end)`` intervals."""
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


def clip(intervals, start, end):
    """``intervals`` cut to the window ``[start, end]``."""
    out = []
    for s, e in intervals:
        s, e = max(s, start), min(e, end)
        if e > s:
            out.append((s, e))
    return out


@dataclass
class Span:
    sid: int
    parent: int | None
    op: int | None
    layer: str
    name: str
    start_ms: float
    end_ms: float
    group: str
    jobs: list = field(default_factory=list)
    tasks: int = 0

    @property
    def ms(self) -> float:
        return self.end_ms - self.start_ms


def self_ms(span: Span, children: list[Span], job_intervals=()) -> float:
    """The span's duration minus the part of it that its child spans and
    its own Spark jobs cover."""
    covered = [(c.start_ms, c.end_ms) for c in children]
    covered += list(job_intervals)
    return span.ms - union_ms(clip(covered, span.start_ms, span.end_ms))


class Tracer:
    """Records spans when ``sc`` (a SparkContext) is given; otherwise every
    span is a no-op, which is how the untraced runs measure."""

    def __init__(self, sc=None):
        self.sc = sc
        self.spans: list[Span] = []
        self.op: int | None = None
        self._stack: list[Span] = []

    @property
    def enabled(self) -> bool:
        return self.sc is not None

    @contextlib.contextmanager
    def span(self, layer: str, name: str):
        if self.sc is None:
            yield
            return
        parent = self._stack[-1] if self._stack else None
        sp = Span(
            sid=len(self.spans), parent=parent.sid if parent else None, op=self.op,
            layer=layer, name=name, start_ms=0.0, end_ms=0.0,
            group=f"perfbench-{len(self.spans)}",
        )
        self.spans.append(sp)
        self._stack.append(sp)
        self.sc.setJobGroup(sp.group, f"{layer}:{name}", False)
        sp.start_ms = time.time() * 1000.0
        try:
            yield
        finally:
            sp.end_ms = time.time() * 1000.0
            self._stack.pop()
            if parent is not None:
                self.sc.setJobGroup(parent.group, f"{parent.layer}:{parent.name}", False)
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)

    @contextlib.contextmanager
    def paused(self):
        """Spans inside are no-ops, as in an untraced run."""
        sc, self.sc = self.sc, None
        try:
            yield
        finally:
            self.sc = sc

    def resolve(self) -> None:
        """Read each span's job ids and task counts back from Spark's status
        tracker (run outside the timed region, before the session stops)."""
        tracker = self.sc.statusTracker()
        for sp in self.spans:
            sp.jobs = sorted(tracker.getJobIdsForGroup(sp.group))
            tasks = 0
            for jid in sp.jobs:
                info = tracker.getJobInfo(jid)
                for sid in info.stageIds if info else ():
                    st = tracker.getStageInfo(sid)
                    tasks += st.numTasks if st else 0
            sp.tasks = tasks

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for sp in self.spans:
                f.write(json.dumps(asdict(sp)) + "\n")


# -- event log ----------------------------------------------------------------

COUNTERS = (
    "jobs", "stages", "tasks", "failed_tasks", "executor_run_ms", "executor_cpu_ms",
    "gc_ms", "shuffle_write_bytes", "shuffle_read_bytes", "spill_disk_bytes",
    "input_records",
)


def read_event_log(log_dir: str) -> list[dict]:
    """All events of the one application logged under ``log_dir``, either
    a single file or a rolling ``eventlog_v2_*`` directory of
    ``events_<n>_*`` parts; zstd is decompressed through pyarrow."""
    import pyarrow as pa

    parts = glob.glob(os.path.join(log_dir, "eventlog_v2_*", "events_*"))
    if parts:
        parts.sort(key=lambda p: int(os.path.basename(p).split("_")[1]))
    else:
        parts = [p for p in glob.glob(os.path.join(log_dir, "*")) if os.path.isfile(p)]
    if not parts:
        raise FileNotFoundError(f"no event log in {log_dir}")
    events = []
    for path in parts:
        with pa.OSFile(path, "rb") as raw:
            stream = pa.CompressedInputStream(raw, "zstd") if path.endswith(".zstd") else raw
            data = stream.read()
        events += [json.loads(line) for line in data.decode().splitlines() if line.strip()]
    return events


def _walk_plan(node: dict, out: dict) -> None:
    kind = node.get("nodeName", "")
    for m in node.get("metrics", ()):
        out[m["accumulatorId"]] = (kind, m["name"])
    for child in node.get("children", ()):
        _walk_plan(child, out)


def _num(v) -> float:
    try:
        return float(v)
    except (TypeError, ValueError):
        return 0.0


def rollup(events: list[dict]) -> dict[str, dict]:
    """Spark's own counters summed per job group.

    Each group maps to ``COUNTERS`` plus ``job_intervals`` (epoch-ms
    start/end of each job) and ``sql`` — SQL operator metrics summed by
    ``(node name, metric name)``, e.g. ``("Sort", "sort time")``."""
    job_group, job_iv, stage_job, exec_group = {}, {}, {}, {}
    accum_names: dict[int, tuple[str, str]] = {}
    stage_tasks, task_events, accum_values = {}, [], []
    for ev in events:
        kind = ev.get("Event", "")
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            jid = ev["Job ID"]
            job_group[jid] = props.get("spark.jobGroup.id")
            job_iv[jid] = [ev.get("Submission Time", 0), None]
            for sid in ev.get("Stage IDs", ()):
                stage_job[sid] = jid
            eid = props.get("spark.sql.execution.id")
            if eid is not None and job_group[jid]:
                exec_group.setdefault(int(eid), job_group[jid])
        elif kind == "SparkListenerJobEnd":
            if ev["Job ID"] in job_iv:
                job_iv[ev["Job ID"]][1] = ev.get("Completion Time")
        elif kind == "SparkListenerStageCompleted":
            info = ev["Stage Info"]
            stage_tasks[info["Stage ID"]] = info.get("Number of Tasks", 0)
            for acc in info.get("Accumulables", ()):
                accum_values.append(("stage", info["Stage ID"], acc.get("ID"), acc.get("Value")))
        elif kind == "SparkListenerTaskEnd":
            task_events.append(ev)
        elif kind.endswith("SparkListenerSQLExecutionStart") or kind.endswith(
            "SparkListenerSQLAdaptiveExecutionUpdate"
        ):
            _walk_plan(ev.get("sparkPlanInfo", {}), accum_names)
        elif kind.endswith("SparkListenerDriverAccumUpdates"):
            for aid, val in ev.get("accumUpdates", ()):
                accum_values.append(("exec", ev.get("executionId"), aid, val))

    groups: dict[str, dict] = {}

    def group_of_job(jid):
        g = job_group.get(jid)
        if g is None:
            return None
        if g not in groups:
            groups[g] = {c: 0.0 for c in COUNTERS}
            groups[g]["job_intervals"] = []
            groups[g]["sql"] = {}
        return groups[g]

    for jid, (s, e) in job_iv.items():
        g = group_of_job(jid)
        if g is not None:
            g["jobs"] += 1
            if e is not None:
                g["job_intervals"].append((float(s), float(e)))
    for sid, jid in stage_job.items():
        g = group_of_job(jid)
        if g is not None and sid in stage_tasks:
            g["stages"] += 1
    for ev in task_events:
        g = group_of_job(stage_job.get(ev.get("Stage ID")))
        if g is None:
            continue
        m = ev.get("Task Metrics") or {}
        g["tasks"] += 1
        g["failed_tasks"] += 1 if (ev.get("Task Info") or {}).get("Failed") else 0
        g["executor_run_ms"] += _num(m.get("Executor Run Time"))
        g["executor_cpu_ms"] += _num(m.get("Executor CPU Time")) / 1e6
        g["gc_ms"] += _num(m.get("JVM GC Time"))
        g["spill_disk_bytes"] += _num(m.get("Disk Bytes Spilled"))
        sw = m.get("Shuffle Write Metrics") or {}
        g["shuffle_write_bytes"] += _num(sw.get("Shuffle Bytes Written"))
        sr = m.get("Shuffle Read Metrics") or {}
        g["shuffle_read_bytes"] += _num(sr.get("Remote Bytes Read")) + _num(sr.get("Local Bytes Read"))
        g["input_records"] += _num((m.get("Input Metrics") or {}).get("Records Read"))
    for where, key, aid, val in accum_values:
        if aid not in accum_names:
            continue
        if where == "stage":
            g = group_of_job(stage_job.get(key))
        else:
            gname = exec_group.get(key)
            g = groups.get(gname) if gname else None
        if g is None:
            continue
        name = accum_names[aid]
        g["sql"][name] = g["sql"].get(name, 0.0) + _num(val)
    return groups


def sql_metric(counters: dict, node_prefix: str, metric: str) -> float:
    """Sum of one SQL metric over the operator nodes whose name starts
    with ``node_prefix``."""
    return sum(
        v for (node, name), v in counters.get("sql", {}).items()
        if node.startswith(node_prefix) and name == metric
    )
