"""Deletion-vector reads: the inlined scan filter against the broadcast
anti-join, as the vector grows.

``TransactionalTable._live`` applies a snapshot's deletion vectors as a
row-position filter built on the driver up to ``_DV_INLINE_ROWS`` vector
rows, and through a broadcast anti-join above it.  This script measures
where that crossover lies: for each vector size it builds a 200 k-row
table of ``--files`` data files, retires that many rows spread over
every file with one ``delete_where_mor``, and times two reads on both
paths: the full read (``count``, ``sum``) and a ``scan_in`` of 20 keys.
Each figure is the median of ``REPS`` warm reads, the two paths taking
turns.  Both paths must return the same answers.

    python scripts/scaling_dv_reads.py [--files N] [positions ...]
    # default: 8 files; 250 500 1000 2000 positions
"""

from __future__ import annotations

import os
import shutil
import statistics
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from agile_lakehouse_spark import get_session  # noqa: E402
from agile_lakehouse_spark.plans import snapshots  # noqa: E402

ROWS = 200_000
REPS = 5
PATHS = {"filter": 1 << 62, "join": 0}  # _DV_INLINE_ROWS for each path
KEYS = list(range(7, ROWS, ROWS // 20))  # every file holds some of them


def compare(read) -> dict[str, float]:
    """Median ms of ``read()`` on each path; both must answer the same."""
    got, times = {}, {path: [] for path in PATHS}
    for path, rows in PATHS.items():  # warm
        snapshots._DV_INLINE_ROWS = rows
        got[path] = read()
    assert got["filter"] == got["join"]
    for _ in range(REPS):
        for path, rows in PATHS.items():
            snapshots._DV_INLINE_ROWS = rows
            t0 = time.perf_counter()
            assert read() == got[path]
            times[path].append((time.perf_counter() - t0) * 1000.0)
    return {path: statistics.median(ts) for path, ts in times.items()}


def reads(spark, t):
    return {
        "read": lambda: tuple(t.read(spark).selectExpr("count(*)", "sum(v)").first()),
        "scan_in": lambda: sorted(tuple(r) for r in t.scan_in(spark, "k", KEYS).collect()),
    }


def main() -> None:
    args = sys.argv[1:]
    files = 8
    if args[:1] == ["--files"]:
        files, args = int(args[1]), args[2:]
    sizes = [int(a) for a in args] or [250, 500, 1_000, 2_000]
    spark = get_session("scaling_dv_reads", shuffle_partitions=8)
    root = tempfile.mkdtemp(prefix="dv_reads_")
    default = snapshots._DV_INLINE_ROWS
    try:
        print(f"{files} files")
        print(f"{'positions':>10} {'read filter':>12} {'read join':>10} {'scan_in filter':>15} {'scan_in join':>13}")
        for n in sizes:
            t = snapshots.TransactionalTable(os.path.join(root, f"t{n}"))
            t.append(
                spark.range(ROWS)
                .select(F.col("id").alias("k"), (F.col("id") * 3).alias("v"))
                .repartition(files)
            )
            t.delete_where_mor(spark, f"k % {ROWS // n} = 0")
            ms = {name: compare(read) for name, read in reads(spark, t).items()}
            print(
                f"{n:>10} {ms['read']['filter']:>12.0f} {ms['read']['join']:>10.0f}"
                f" {ms['scan_in']['filter']:>15.0f} {ms['scan_in']['join']:>13.0f}",
                flush=True,
            )
    finally:
        snapshots._DV_INLINE_ROWS = default
        shutil.rmtree(root, ignore_errors=True)
        spark.stop()


if __name__ == "__main__":
    main()
