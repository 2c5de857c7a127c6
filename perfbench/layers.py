"""Per-layer metrics of a traced run, from its spans, the counters read at
the layer boundaries, and Spark's event-log rollup.

Every name in ``PER_LAYER`` is reported on every workload; a layer the
workload does not exercise reports 0.
"""

from __future__ import annotations

import os

from perfbench.trace import clip, geomean, median, self_ms, sql_metric, tail_percentile, union_ms

SPARK = (
    "jobs", "stages", "tasks", "failed_tasks", "executor_run_ms", "executor_cpu_ms",
    "gc_ms", "shuffle_write_bytes", "shuffle_read_bytes", "spill_disk_bytes",
)
QUERY_TYPES = ("rect", "circle", "knn", "sample")
SNAPSHOT_OPS = (
    "append", "delete_mor", "merge", "scan", "scan_in", "lookup", "read_version",
    "optimize", "vacuum",
)
COMMITS = ("append", "delete_mor", "merge")
UPDATES = {"exact_update": "dedup.exact_update_ms", "embedding_update": "similarity.embedding_update_ms"}

PER_LAYER = (
    ["op.count", "op.p50_ms", "op.read_p50_ms", "op.write_p50_ms", "op.tail_pct", "op.tail_ms"]
    + [f"op.{q}_p50_ms" for q in QUERY_TYPES]
    + ["op.ingest_pts_per_s", "op.docs_per_s"]
    + ["trace.overhead_read_ms", "trace.overhead_read_share"]
    + ["pointcloud.build_ms", "spark.jobs_per_query", "spark.tasks_per_query", "spark.driver_self_ms"]
    + ["layout.files_read_per_query", "layout.file_prune_ratio", "layout.rows_scanned_per_result"]
    + ["sources.decode_ms_per_mpt", "sources.rows_decoded_per_point"]
    + ["layout.jobs_per_write", "layout.input_passes", "layout.shuffle_bytes_per_point",
       "layout.spill_bytes", "layout.sort_ms", "layout.files_written"]
    + [f"snapshots.{o}_ms" for o in SNAPSHOT_OPS]
    + ["snapshots.jobs_per_commit", "snapshots.files_kept_ratio", "snapshots.bloom_fp_ratio",
       "snapshots.manifest_bytes", "snapshots.dv_files", "snapshots.small_file_share",
       "snapshots.bytes_rewritten", "snapshots.stall_ms"]
    + list(UPDATES.values())
    + ["dedup.jobs_per_update", "dedup.store_rows_read_per_batch_row"]
    + [f"spark.{c}" for c in SPARK] + ["spark.core_util", "mem.peak_rss_mb"]
)


def unit(name: str) -> str:
    if name.endswith("_pct"):
        return "%"
    if name.endswith("per_s"):
        return "1/s"
    if name.endswith("_ms_per_mpt"):
        return "ms/Mpt"
    if name.endswith("_bytes_per_point"):
        return "B/point"
    if name.endswith("_ms"):
        return "ms"
    if name.endswith("_s"):
        return "s"
    if name.endswith("_mb"):
        return "MB"
    if name.endswith("bytes") or name.endswith("_rewritten"):
        return "B"
    if name.endswith(("ratio", "share", "util")):
        return "ratio"
    return "count"


class Rollup:
    """Event-log counters and job intervals over span subtrees."""

    def __init__(self, tracer, groups: dict):
        self.groups = groups
        self.kids: dict[int, list] = {}
        for s in tracer.spans:
            if s.parent is not None:
                self.kids.setdefault(s.parent, []).append(s)

    def subtree(self, span) -> list:
        out, todo = [], [span]
        while todo:
            s = todo.pop()
            out.append(s)
            todo.extend(self.kids.get(s.sid, ()))
        return out

    def counters(self, span) -> dict:
        total = {c: 0.0 for c in SPARK}
        total["input_records"], total["job_intervals"], total["sql"] = 0.0, [], {}
        for s in self.subtree(span):
            g = self.groups.get(s.group)
            if g is None:
                continue
            for c in SPARK + ("input_records",):
                total[c] += g[c]
            total["job_intervals"] += g["job_intervals"]
            for k, v in g["sql"].items():
                total["sql"][k] = total["sql"].get(k, 0.0) + v
        # statusTracker is the live source for job and task counts
        total["jobs"] = float(sum(len(s.jobs) for s in self.subtree(span)))
        total["tasks"] = float(sum(s.tasks for s in self.subtree(span)))
        return total

    def layer_self_ms(self, span) -> float:
        """Wall time of the span not covered by child spans or Spark jobs."""
        jobs = self.groups.get(span.group, {}).get("job_intervals", [])
        return self_ms(span, self.kids.get(span.sid, []), jobs)

    def driver_self_ms(self, span) -> float:
        """Op wall time minus the union of all its Spark job intervals."""
        jobs = self.counters(span)["job_intervals"]
        return span.ms - union_ms(clip(jobs, span.start_ms, span.end_ms))


def mean(xs) -> float:
    xs = list(xs)
    return sum(xs) / len(xs) if xs else 0.0


def ratio(a: float, b: float) -> float:
    return a / b if b else 0.0


def per_layer(wl, records, tracer, groups) -> dict:
    ru = Rollup(tracer, groups)
    op_span = {s.op: s for s in tracer.spans if s.parent is None and s.op is not None}
    setup_spans = [s for s in tracer.spans if s.op is None and s.parent is None]
    m = {name: 0.0 for name in PER_LAYER}

    def p50(pred):
        return median(r["ms"] for r in records if pred(r))

    m["op.count"] = float(len(records))
    m["op.p50_ms"] = p50(lambda r: True)
    m["op.read_p50_ms"] = p50(lambda r: r["kind"] == "read")
    m["op.write_p50_ms"] = p50(lambda r: r["kind"] == "write")
    m["op.tail_pct"], m["op.tail_ms"] = tail_percentile([r["ms"] for r in records])
    for q in QUERY_TYPES:
        m[f"op.{q}_p50_ms"] = p50(lambda r, q=q: r["layer"] == "operators.pointcloud" and r["name"].startswith(q))
    # each read ran traced and untraced; the difference of the geometric
    # means is the overhead in the e2e ``read_ms``
    twins = [r for r in records if "untraced_ms" in r]
    untraced = geomean(r["untraced_ms"] for r in twins)
    m["trace.overhead_read_ms"] = geomean(r["ms"] for r in twins) - untraced
    m["trace.overhead_read_share"] = ratio(m["trace.overhead_read_ms"], untraced)

    spans = [(r, op_span[r["i"]]) for r in records if r["i"] in op_span]
    counters = {r["i"]: ru.counters(s) for r, s in spans}
    for c in SPARK:
        m[f"spark.{c}"] = mean(counters[r["i"]][c] for r, _ in spans)
    cores = len(os.sched_getaffinity(0))
    m["spark.core_util"] = ratio(
        sum(counters[r["i"]]["executor_run_ms"] for r, _ in spans),
        sum(s.ms for _, s in spans) * cores,
    )

    # -- pc_query: operators.pointcloud, spark per query, layout read side
    queries = [(r, s) for r, s in spans if r["layer"] == "operators.pointcloud"]
    if queries:
        builds = [k for _, s in queries for k in ru.kids.get(s.sid, []) if k.name == "build"]
        m["pointcloud.build_ms"] = median(k.ms for k in builds)
        m["spark.jobs_per_query"] = mean(counters[r["i"]]["jobs"] for r, _ in queries)
        m["spark.tasks_per_query"] = mean(counters[r["i"]]["tasks"] for r, _ in queries)
        m["spark.driver_self_ms"] = median(ru.driver_self_ms(s) for _, s in queries)
        files = mean(sql_metric(counters[r["i"]], "Scan parquet", "number of files read") for r, _ in queries)
        m["layout.files_read_per_query"] = files
        m["layout.file_prune_ratio"] = 1.0 - ratio(files, wl.files_in_layout)
        m["layout.rows_scanned_per_result"] = ratio(
            sum(sql_metric(counters[r["i"]], "Scan parquet", "number of output rows") for r, _ in queries),
            sum(r["rows"] for r, _ in queries),
        )
        m["op.ingest_pts_per_s"] = ratio(wl.n, wl.ingest_s)

    # -- the last set-up's ingest: sources and the layout write side
    last = {s.name: s for s in setup_spans}
    if "read_convert" in last:
        c = ru.counters(last["read_convert"])
        m["sources.decode_ms_per_mpt"] = ratio(c["executor_run_ms"], wl.n / 1e6)
        m["sources.rows_decoded_per_point"] = ratio(
            sql_metric(c, "BatchScan las", "number of output rows"), wl.n)
    if "write_grid" in last:
        c = ru.counters(last["write_grid"])
        m["layout.jobs_per_write"] = c["jobs"]
        m["layout.input_passes"] = ratio(c["input_records"], wl.n)
        m["layout.shuffle_bytes_per_point"] = ratio(c["shuffle_write_bytes"], wl.n)
        m["layout.spill_bytes"] = c["spill_disk_bytes"]
        m["layout.sort_ms"] = sql_metric(c, "Sort", "sort time")
        m["layout.files_written"] = float(wl.files_in_layout)

    # -- lake_mutate: plans.snapshots
    snap = [(r, s) for r, s in spans if r["layer"] == "plans.snapshots"]
    if snap:
        for o in SNAPSHOT_OPS:
            m[f"snapshots.{o}_ms"] = median(ru.layer_self_ms(s) for r, s in snap if r["name"] == o)
        m["snapshots.jobs_per_commit"] = mean(counters[r["i"]]["jobs"] for r, _ in snap if r["name"] in COMMITS)
        probes = [r["probe"] for r, _ in snap if "probe" in r]
        kept = [p for p in probes if "files_kept" in p and p["files_total"]]
        m["snapshots.files_kept_ratio"] = ratio(sum(p["files_kept"] for p in kept), sum(p["files_total"] for p in kept))
        blooms = [p for p in probes if "bloom_kept" in p]
        m["snapshots.bloom_fp_ratio"] = ratio(
            sum(p["bloom_kept"] - p["bloom_true"] for p in blooms), sum(p["bloom_kept"] for p in blooms))
        state = [p for p in probes if "manifest_bytes" in p]
        m["snapshots.manifest_bytes"] = mean(p["manifest_bytes"] for p in state)
        m["snapshots.dv_files"] = mean(p["dv_files"] for p in state)
        m["snapshots.small_file_share"] = mean(p["small_file_share"] for p in state)
        m["snapshots.bytes_rewritten"] = mean(
            r["written"] for r, _ in snap if r["name"] in ("merge", "optimize"))
        after = [r["ms"] for r, _ in snap if r["name"] == "scan_after_maintenance"]
        m["snapshots.stall_ms"] = mean(after) - median(r["ms"] for r, _ in snap if r["name"] == "scan")

    # -- lake_mutate: operators.dedup and operators.similarity
    upd = [(r, s) for r, s in spans if r["name"] in UPDATES]
    if upd:
        for name, metric in UPDATES.items():
            m[metric] = median(ru.layer_self_ms(s) for r, s in upd if r["name"] == name)
        m["dedup.jobs_per_update"] = mean(counters[r["i"]]["jobs"] for r, _ in upd)
        m["dedup.store_rows_read_per_batch_row"] = ratio(
            sum(counters[r["i"]]["input_records"] for r, _ in upd), wl.batch_rows * len(upd))
        m["op.docs_per_s"] = ratio(wl.batch_rows * len(upd) / len(UPDATES), sum(r["ms"] for r, _ in upd) / 1000.0)
    return {k: (float(v), unit(k)) for k, v in m.items()}
