"""Phase-level timing for the store-backed bench entries (guide §1).

Instruments the wall clock around each side phase of dq21k / dq21l /
dq21m / dq22f / dq148d — store build batch, probe/scan, pair compute
(localCheckpoint), append/commit — by monkeypatching TransactionalTable's
_stage/_build_blooms/_collect_stats and timing the declared fn's phases.

``--plans DIR`` also writes the ``explain("formatted")`` of every frame
that is ``localCheckpoint``-ed or appended during each entry's warm-up
run, one file per call under DIR/<entry>/.  These entries return
checkpointed frames whose own plans show nothing, so the side-phase plans
are the ones a plan-change check has to compare.  Expression ids, plan
ids, lambda-variable and RDD ids, AQE query-stage and codegen-stage ids,
uuids, temp-dir names and part-file numbers are normalized first, so a
before/after check is a plain ``diff -r``.

Usage: python scripts/profile_store_phases.py [--plans DIR] [dq21k|dq148d|...] [reps]
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, ".")

from agile_lakehouse_spark import declared, get_session  # noqa: E402
from agile_lakehouse_spark.plans import snapshots  # noqa: E402
# scripts/ is sys.path[0] when this file runs as a script
from profile_plans import normalize_plan  # noqa: E402

PHASES: list[tuple[str, float]] = []
# --plans: the entry whose warm-up run is being recorded, and its call count
PLANS = {"dir": None, "entry": None, "n": 0}


def _record_plan(kind: str, df) -> None:
    if PLANS["entry"] is None:
        return
    plan = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
    out = os.path.join(PLANS["dir"], PLANS["entry"])
    os.makedirs(out, exist_ok=True)
    with open(os.path.join(out, f"{PLANS['n']:02d}_{kind}.txt"), "w") as fh:
        fh.write(normalize_plan(plan))
    PLANS["n"] += 1


def _wrap(cls, name):
    orig = getattr(cls, name)

    def timed(self, *a, **kw):
        if name == "append":
            _record_plan("append", a[0] if a else kw["df"])
        t0 = time.time()
        out = orig(self, *a, **kw)
        PHASES.append((name, time.time() - t0))
        return out

    setattr(cls, name, timed)


def main() -> None:
    args = sys.argv[1:]
    if "--plans" in args:
        i = args.index("--plans")
        if i + 1 >= len(args):
            sys.exit(f"--plans needs a value\n{__doc__}")
        PLANS["dir"] = args[i + 1]
        del args[i : i + 2]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    names = [a for a in args if not a.isdigit()]
    reps = int(next((a for a in args if a.isdigit()), "2"))
    spark = get_session("store-phase-profile")
    spark.sparkContext.setLogLevel("ERROR")

    for t in ("lineitem", "orders", "documents", "embeddings", "events"):
        spark.read.parquet(f"{sf_dir}/{t}.parquet").count()
    spark.createDataFrame([(0, 1.0)], "k int, v double").groupBy("k").applyInPandas(
        lambda p: p, schema="k int, v double"
    ).count()

    for m in ("_stage", "_build_blooms", "append", "delete_keys_mor", "scan_in", "read"):
        _wrap(snapshots.TransactionalTable, m)

    # time localCheckpoint calls too (the pair-compute phase).  Patch the
    # session's concrete DataFrame class: pyspark 4 splits it from the
    # pyspark.sql.DataFrame base, whose method the subclass overrides.
    frame_cls = type(spark.range(1))
    orig_lc = frame_cls.localCheckpoint

    def timed_lc(self, *a, **kw):
        _record_plan("localCheckpoint", self)
        t0 = time.time()
        out = orig_lc(self, *a, **kw)
        PHASES.append(("localCheckpoint", time.time() - t0))
        return out

    frame_cls.localCheckpoint = timed_lc

    full = {n: f for n, f in declared.SPARK_QUERIES.items()
            if any(n.startswith(p) for p in names)}
    import bench

    for name, fn in full.items():
        if PLANS["dir"] is not None:
            PLANS["entry"], PLANS["n"] = name, 0
        bench.execute_fully(fn(spark, sf_dir))  # warm
        PLANS["entry"] = None
        for rep in range(reps):
            PHASES.clear()
            t0 = time.time()
            df = fn(spark, sf_dir)
            build = time.time() - t0
            t0 = time.time()
            bench.execute_fully(df)
            ex = time.time() - t0
            agg: dict[str, list[float]] = {}
            for ph, dt in PHASES:
                agg.setdefault(ph, []).append(dt)
            line = " ".join(
                f"{ph}={sum(v):.2f}x{len(v)}" for ph, v in sorted(agg.items())
            )
            print(f"{name} rep{rep}: build={build:.2f} exec={ex:.2f} | {line}",
                  flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
