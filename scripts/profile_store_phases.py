"""Phase-level timing for the store-backed bench entries (guide §1).

Instruments the wall clock around each side phase of dq21k / dq21l /
dq21m / dq22f / dq148d — store build batch, probe/scan, pair compute
(localCheckpoint), append/commit — by monkeypatching TransactionalTable's
_stage/_build_blooms/_collect_stats and timing the declared fn's phases.

Usage: python scripts/profile_store_phases.py [dq21k|dq148d|...] [reps]
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, ".")

from agile_lakehouse_spark import declared, get_session  # noqa: E402
from agile_lakehouse_spark.plans import snapshots  # noqa: E402

PHASES: list[tuple[str, float]] = []


def _wrap(cls, name):
    orig = getattr(cls, name)

    def timed(self, *a, **kw):
        t0 = time.time()
        out = orig(self, *a, **kw)
        PHASES.append((name, time.time() - t0))
        return out

    setattr(cls, name, timed)


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    names = [a for a in sys.argv[1:] if not a.isdigit()]
    reps = int(next((a for a in sys.argv[1:] if a.isdigit()), "2"))
    spark = get_session("store-phase-profile")
    spark.sparkContext.setLogLevel("ERROR")

    for t in ("lineitem", "orders", "documents", "embeddings", "events"):
        spark.read.parquet(f"{sf_dir}/{t}.parquet").count()
    spark.createDataFrame([(0, 1.0)], "k int, v double").groupBy("k").applyInPandas(
        lambda p: p, schema="k int, v double"
    ).count()

    for m in ("_stage", "_build_blooms", "append", "delete_where", "scan_in", "read"):
        _wrap(snapshots.TransactionalTable, m)

    # time localCheckpoint calls too (the pair-compute phase)
    from pyspark.sql import DataFrame as _DF

    orig_lc = _DF.localCheckpoint

    def timed_lc(self, eager=True):
        t0 = time.time()
        out = orig_lc(self, eager=eager)
        PHASES.append(("localCheckpoint", time.time() - t0))
        return out

    _DF.localCheckpoint = timed_lc

    full = {n: f for n, f in declared.SPARK_QUERIES.items()
            if any(n.startswith(p) for p in names)}
    import bench

    for name, fn in full.items():
        bench.execute_fully(fn(spark, sf_dir))  # warm
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
