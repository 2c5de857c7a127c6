"""Tests of the benchmark's own helpers; none of them starts Spark.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import types
from unittest import mock

import numpy as np
import pytest

from perfbench import lake_mutate as lm
from perfbench import pc_query as pq
from perfbench.common import Op
from perfbench.run import run_loop
from perfbench.trace import Span, Tracer, geomean, read_event_log, rollup, self_ms, sql_metric, tail_percentile, union_ms


# -- percentile rule -------------------------------------------------------------

def test_tail_percentile_needs_ten_samples_beyond():
    assert tail_percentile(range(19)) == (0.0, 0.0)  # 9.5 beyond p50
    assert tail_percentile(range(20)) == (50.0, 9.0)
    assert tail_percentile(range(100)) == (90.0, 89.0)
    assert tail_percentile(range(1, 201)) == (95.0, 190.0)
    assert tail_percentile(range(1000)) == (99.0, 989.0)


def test_geomean_weighs_every_sample():
    assert geomean([1.0, 100.0]) == pytest.approx(10.0)
    assert geomean([]) == 0.0


# -- span self time --------------------------------------------------------------

def _span(sid, start, end, parent=None):
    return Span(sid, parent, None, "layer", f"s{sid}", start, end, f"g{sid}")


def test_union_merges_overlaps():
    assert union_ms([(0, 10), (5, 15), (20, 30)]) == 25
    assert union_ms([]) == 0


def test_self_time_subtracts_children_and_jobs_once():
    parent = _span(0, 0.0, 100.0)
    kids = [_span(1, 10.0, 30.0, 0), _span(2, 25.0, 40.0, 0)]
    assert self_ms(parent, kids) == 70.0
    # a job overlapping a child is not subtracted twice; one outside is clipped
    assert self_ms(parent, kids, [(35.0, 50.0), (90.0, 120.0)]) == 100.0 - 30.0 - 10.0 - 10.0


def test_disabled_tracer_records_nothing():
    tr = Tracer(None)
    with tr.span("plans.snapshots", "merge"):
        pass
    assert tr.spans == [] and not tr.enabled


def test_traced_loop_runs_each_read_twice_and_checks_both():
    tr = Tracer(mock.MagicMock())
    traced = []  # per call of a read: whether tracing was on

    def read(answers):
        return lambda: (traced.append(tr.enabled), answers.pop(0))[1]

    ops = [
        Op("write", "w", "l", lambda: 0, lambda got: True),
        Op("read", "a", "l", read([1, 1]), lambda got: got == 1),
        Op("read", "b", "l", read([2, 3]), lambda got: got == 2),  # the second answer is wrong
    ]
    wl = types.SimpleNamespace(cycle=lambda c: iter(ops))
    recs = run_loop(wl, tr, 1)
    assert ["untraced_ms" in r for r in recs] == [False, True, True]
    assert [r["ok"] for r in recs] == [True, True, False]
    assert traced == [True, False, True, False]
    assert [s.name for s in tr.spans] == ["w", "a", "b"]
    assert tr.enabled


def test_traced_loop_alternates_the_order_per_read_name():
    tr = Tracer(mock.MagicMock())
    first = []  # per read: its name and whether its first pass was traced
    calls = []

    def read(name):
        def run():
            calls.append(tr.enabled)
            if len(calls) % 2 == 1:
                first.append((name, tr.enabled))
            return 0
        return Op("read", name, "l", run, lambda got: True)

    def write():
        return Op("write", "w", "l", lambda: calls.clear() or 0, lambda got: True)

    # writes between the reads shift the op index, not the per-name count
    ops = [read("a"), write(), read("b"), read("a"), write(), write(), read("b"), read("a"), read("b")]
    wl = types.SimpleNamespace(cycle=lambda c: iter(ops))
    run_loop(wl, tr, 2)
    for name in "ab":
        order = [t for n, t in first if n == name]
        assert order == [True, False] * 3


# -- event-log rollup ------------------------------------------------------------

def _events():
    return [
        {"Event": "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart", "executionId": 3,
         "sparkPlanInfo": {"nodeName": "Sort", "metrics": [{"name": "sort time", "accumulatorId": 7}],
                           "children": [{"nodeName": "Scan parquet ", "metrics": [
                               {"name": "number of files read", "accumulatorId": 8}], "children": []}]}},
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 1000, "Stage IDs": [0, 1],
         "Properties": {"spark.jobGroup.id": "perfbench-4", "spark.sql.execution.id": "3"}},
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Submission Time": 1100, "Stage IDs": [2],
         "Properties": {}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 0, "Task Info": {"Failed": False},
         "Task Metrics": {"Executor Run Time": 40, "Executor CPU Time": 30_000_000, "JVM GC Time": 2,
                          "Disk Bytes Spilled": 0,
                          "Shuffle Write Metrics": {"Shuffle Bytes Written": 500},
                          "Input Metrics": {"Records Read": 10}}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 1, "Task Info": {"Failed": True},
         "Task Metrics": {"Executor Run Time": 60, "Executor CPU Time": 50_000_000, "JVM GC Time": 0,
                          "Disk Bytes Spilled": 64,
                          "Shuffle Read Metrics": {"Remote Bytes Read": 100, "Local Bytes Read": 400}}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 2, "Task Info": {"Failed": False},
         "Task Metrics": {"Executor Run Time": 999}},
        {"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": 0, "Number of Tasks": 1,
                                                                "Accumulables": [{"ID": 7, "Value": "12"}]}},
        {"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": 1, "Number of Tasks": 1,
                                                                "Accumulables": []}},
        {"Event": "org.apache.spark.sql.execution.ui.SparkListenerDriverAccumUpdates",
         "executionId": 3, "accumUpdates": [[8, 5]]},
        {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 1250},
    ]


def test_rollup_sums_counters_per_job_group():
    g = rollup(_events())
    assert set(g) == {"perfbench-4"}  # the ungrouped job is not attributed
    c = g["perfbench-4"]
    assert (c["jobs"], c["stages"], c["tasks"], c["failed_tasks"]) == (1, 2, 2, 1)
    assert c["executor_run_ms"] == 100 and c["executor_cpu_ms"] == 80 and c["gc_ms"] == 2
    assert c["shuffle_write_bytes"] == 500 and c["shuffle_read_bytes"] == 500
    assert c["spill_disk_bytes"] == 64 and c["input_records"] == 10
    assert c["job_intervals"] == [(1000.0, 1250.0)]
    assert sql_metric(c, "Sort", "sort time") == 12
    assert sql_metric(c, "Scan parquet", "number of files read") == 5


def test_event_log_reads_back_through_zstd(tmp_path):
    import pyarrow as pa

    with pa.CompressedOutputStream(str(tmp_path / "local-1.zstd"), "zstd") as out:
        out.write("\n".join(json.dumps(e) for e in _events()).encode())
    assert rollup(read_event_log(str(tmp_path))) == rollup(_events())


# -- pc_query oracles -----------------------------------------------------------

def _cloud(n=5000):
    rng = np.random.default_rng(0)
    return {"x": rng.uniform(0, pq.EXTENT, n), "y": rng.uniform(0, pq.EXTENT, n),
            "z": rng.uniform(0, 100, n), "i": rng.uniform(0, 1, n).astype(np.float32)}


def test_pc_query_checks_reject_a_wrong_answer():
    wl = pq.PcQuery(types.SimpleNamespace(read=types.SimpleNamespace(parquet=lambda p: None)),
                    "unused", 0, Tracer(None))
    wl.points, wl.grid = _cloud(), "unused"
    ops = list(wl.cycle(0))
    assert sorted(op.name for op in ops) == sorted(sorted(pq.QUERIES) * pq.PER_CYCLE)
    for op in ops:
        want = op.check.__defaults__[0]
        assert op.check(want)
        wrong = want + 1 if not isinstance(want, np.ndarray) else np.r_[want[:-1], want[-1] + 1e-9]
        assert not op.check(wrong), op.name


def test_pc_query_oracles_follow_the_operator_rules():
    pts = {"x": np.array([0.0, 1.0, 2.0]), "y": np.array([0.0, 0.0, 0.0]),
           "i": np.array([0.1, 0.5, 1.0], np.float32)}
    assert pq.rect_count(pts, 0.0, 2.0, 0.0, 1.0) == 2  # half-open upper bound
    assert pq.circle_count(pts, 0.0, 0.0, 1.0) == 1  # strict radius
    assert list(pq.knn_dist2(pts, 2.0, 0.0, 2)) == [0.0, 1.0]
    assert pq.sample_count(pts, 0.5) == 1 and pq.sample_count(pts, 1.0) == 3


# -- lake_mutate model and planted duplicates ----------------------------------

def _lake():
    wl = lm.LakeMutate.__new__(lm.LakeMutate)
    wl.spark, wl.table, wl.tracer = mock.MagicMock(), None, Tracer(None)
    wl.model = lm.LakeModel()
    pids = np.arange(200)
    rng = np.random.default_rng(1)
    wl.model.upsert(pids, rng.uniform(0, 1000, 200), rng.uniform(0, 1000, 200), rng.uniform(0, 100, 200))
    wl.model.versions[0] = wl.model.summary()
    wl.next_pid = 200
    return wl


def test_lake_read_checks_reject_a_wrong_answer():
    wl = _lake()
    m = wl.model
    rng = np.random.default_rng(2)
    for kind in ("scan", "scan_in", "lookup", "read_version"):
        op = wl._read(rng, kind)
        names = op.check.__code__.co_freevars
        env = dict(zip(names, (c.cell_contents for c in op.check.__closure__)))
        if kind == "scan":
            right = m.scan(env["x0"], env["x1"], env["y0"], env["y1"])
            wrong = (right[0] + 1, right[1])
        elif kind == "read_version":
            right = m.versions[env["v"]]
            wrong = (right[0], right[1] - 1, right[2])
        else:
            right = {k: m.rows[k] for k in env["keys"] if k in m.rows}
            wrong = {**right, -1: (0.0, 0.0, 0.0)}
        assert op.check(right) and not op.check(wrong), kind


def _closure(fn) -> dict:
    return dict(zip(fn.__code__.co_freevars, (c.cell_contents for c in fn.__closure__)))


def test_embedding_check_flags_exactly_the_planted_duplicates():
    wl = _lake()
    wl.plant = lm.VecPlant(np.random.default_rng(3))
    boot, _ = wl.plant.batch(40, 0.0)
    wl.plant.fold(boot, set())
    wl.caches, wl.live_doc_bytes = [], 0
    op = wl._embedding(np.random.default_rng(4))
    planted = _closure(op.check)["planted"]
    assert planted and all(d > s and s in boot for d, s in planted)
    assert not op.check(planted | {(boot[0], boot[1])})
    wl.plant.stored, wl.plant.free = list(boot), []
    assert not op.check(set(list(planted)[1:]))
    wl.plant.stored, wl.plant.free = list(boot), []
    assert op.check(set(planted))


def test_near_duplicates_stay_close_to_their_source():
    plant = lm.VecPlant(np.random.default_rng(5))
    boot, _ = plant.batch(20, 0.0)
    plant.fold(boot, set())
    ids, planted = plant.batch(40, 0.25)
    assert len(planted) == 10
    exact = {np.array_equal(plant.vec[d], plant.vec[s]) for d, s in planted}
    assert exact == {True, False}
    for d, s in planted:
        cos = plant.vec[d] @ plant.vec[s] / np.linalg.norm(plant.vec[d]) / np.linalg.norm(plant.vec[s])
        assert plant.cell[d] == plant.cell[s] and cos > 0.99
    assert plant.matches(ids) == planted


def test_exact_check_flags_exactly_the_planted_duplicates():
    wl = _lake()
    wl.texts = lm.TextPlant(np.random.default_rng(6))
    ids, texts, _ = wl.texts.batch(30, 0.0)
    wl.texts.fold(ids, texts)
    wl.caches, wl.live_doc_bytes = [], 0
    op = wl._exact(np.random.default_rng(7))
    env = _closure(op.check)
    want, planted = env["want"], env["planted"]
    assert planted == {i for i, (_, kept) in want.items() if not kept}
    # a duplicate copies a stored text or an earlier one of its batch
    assert all(want[d][0] < d for d in planted)
    assert op.check(dict(want))
    d = min(planted)
    assert not op.check({**want, d: (d, True)})  # a planted duplicate kept
    k = next(i for i, (_, kept) in want.items() if kept)
    assert not op.check({**want, k: (k - 1, False)})  # an original dropped


if __name__ == "__main__":
    raise SystemExit(pytest.main([__file__, "-q"]))
