"""Optimization measurement pass: measure before changing anything.

For every bench entry (or the names given on argv): capture the
``explain("formatted")`` plan to DIR/<name>.txt, count Exchange /
BatchEvalPython / ArrowEvalPython / SortMergeJoin / BroadcastHashJoin
nodes, and time N warm noop-sink runs so per-entry work is attributable
before anything is changed.  The per-entry results merge into
DIR/profile_before.json (or _after).  Plans are written through
:func:`normalize_plan` (``profile_store_phases.py --plans`` uses it too),
so a plan-change check is ``diff -r BEFORE_DIR AFTER_DIR``.

Usage:
    python scripts/profile_plans.py --out DIR [--after] [--reps N] [name ...]
"""

from __future__ import annotations

import json
import os
import re
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from agile_lakehouse_spark import declared, get_session  # noqa: E402

PLAN_NODES = (
    "Exchange",
    "BroadcastExchange",
    "SortMergeJoin",
    "BroadcastHashJoin",
    "ShuffledHashJoin",
    "BatchEvalPython",
    "ArrowEvalPython",
    "FlatMapGroupsInPandas",
    "MapInPandas",
    "PythonMapInArrow",
    "BroadcastNestedLoopJoin",
    "CartesianProduct",
    "Sort ",
    "TakeOrderedAndProject",
    "WholeStageCodegen",
)


# Expression ids, plan ids, lambda-variable and RDD ids, AQE query-stage
# and codegen-stage ids, uuids, temp-dir names and part-file numbers
# change from run to run without any change of plan.
_NORMALIZE = [
    (re.compile(r"#\d+L?"), "#N"),
    (re.compile(r"(lambda \w+?)_\d+\b"), r"\1_N"),
    (re.compile(r"plan_id=\d+"), "plan_id=N"),
    # executed AQE plans (a persisted frame that was already computed)
    # number their query stages and codegen stages in completion order
    (re.compile(r"\[codegen id : \d+\]"), "[codegen id : N]"),
    (re.compile(r"(QueryStage\n(?:Output .*\n)?Arguments: )\d+"), r"\1N"),
    (re.compile(r"\b(\w*RDD)\[\d+\]"), r"\1[N]"),
    (re.compile(r"[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}"), "UUID"),
    (re.compile(r"[0-9a-f]{32}"), "UUID"),
    (re.compile(r"part-\d{5}"), "part-N"),
    (re.compile(re.escape(tempfile.gettempdir()) + r"/[^/\s,\]]+"), "TMP"),
]


def normalize_plan(plan: str) -> str:
    for pat, repl in _NORMALIZE:
        plan = pat.sub(repl, plan)
    return plan


def plan_counts(plan: str) -> dict[str, int]:
    out = {}
    for node in PLAN_NODES:
        c = len(re.findall(r"\b" + node.strip() + r"\b", plan))
        if c:
            out[node.strip()] = c
    return out


def _take_option(args: list[str], flag: str) -> str | None:
    """Remove ``flag VALUE`` from ``args`` and return VALUE (None if the
    flag is absent); a flag with no value after it exits with usage."""
    if flag not in args:
        return None
    i = args.index(flag)
    if i + 1 >= len(args):
        sys.exit(f"{flag} needs a value\n{__doc__}")
    value = args[i + 1]
    del args[i : i + 2]
    return value


def main() -> None:
    args = sys.argv[1:]
    suffix = "_after" if "--after" in args else "_before"
    args = [a for a in args if a != "--after"]
    out_dir = _take_option(args, "--out")
    if out_dir is None:
        sys.exit(f"--out DIR is required\n{__doc__}")
    reps = int(_take_option(args, "--reps") or 2)
    names = args or None

    import bench

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_session("profile")
    spark.sparkContext.setLogLevel("ERROR")
    os.makedirs(out_dir, exist_ok=True)

    # warm like bench.py does
    for t in ("lineitem", "orders", "documents", "embeddings", "events"):
        spark.read.parquet(f"{sf_dir}/{t}.parquet").count()
    from agile_lakehouse_spark.sources.catalog import points_view

    points_view(spark, sf_dir).count()
    spark.createDataFrame([(0, 1.0)], "k int, v double").groupBy("k").applyInPandas(
        lambda p: p, schema="k int, v double"
    ).count()

    todo = names or bench.BENCH_QUERIES
    results = {}
    for name in todo:
        fn = declared.SPARK_QUERIES[name]
        spark.sparkContext.setJobDescription(f"profile:{name}")
        t0 = time.time()
        df = fn(spark, sf_dir)  # store-backed entries execute side phases here
        build_s = time.time() - t0
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        with open(os.path.join(out_dir, f"{name}.txt"), "w") as fh:
            fh.write(normalize_plan(plan))
        t0 = time.time()
        bench.execute_fully(df)
        first_s = time.time() - t0
        per = []
        for _ in range(reps):
            # store-backed entries must rebuild their stores per rep —
            # re-invoke the declared fn, like bench.py does
            t0 = time.time()
            bench.execute_fully(fn(spark, sf_dir))
            per.append(round(time.time() - t0, 3))
        results[name] = {
            "build_s": round(build_s, 3),
            "first_exec_s": round(first_s, 3),
            "warm_s": per,
            "plan_nodes": plan_counts(plan),
        }
        print(json.dumps({name: results[name]}), flush=True)
        spark.sparkContext.setJobDescription(None)

    out = os.path.join(out_dir, f"profile{suffix}.json")
    mode = json.load(open(out)) if os.path.exists(out) else {}
    mode.update(results)
    with open(out, "w") as fh:
        json.dump(mode, fh, indent=1, sort_keys=True)
    print(f"wrote {out} ({len(results)} entries)")
    spark.stop()


if __name__ == "__main__":
    main()
