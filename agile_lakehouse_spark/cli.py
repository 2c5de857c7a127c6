"""Command-line interface mirroring the reference's ``pc-cli``
(`pc-cli/src/main.rs:15-23`: Benchmark / Convert / Merge, plus the
partition pipeline from `pc-cli/examples/partition.rs`), so a reference
user can run the same commands against the Spark engine:

    python -m agile_lakehouse_spark.cli convert  -i in.parquet|in.las|in.laz -o out/ [--importance] [--raw] [--compression zstd]
    python -m agile_lakehouse_spark.cli merge    <inputs...> <output> [--target-files N] [--compression zstd]
    python -m agile_lakehouse_spark.cli partition -i in.parquet -o out/ --mode grid|grid-importance|quadtree
    python -m agile_lakehouse_spark.cli benchmark <dir> [--runs N] [--sampling]

Every subcommand is a thin argparse shell over the library (the ``las``
DataSource, plans/layout, operators/pointcloud) — the CLI owns no logic,
exactly like the reference where pc-cli drives pc-format/pc-io.  On a
cluster, the same entrypoints run under ``spark-submit`` unchanged
(``get_session`` only fills in a master when none is configured).
"""

from __future__ import annotations

import argparse
import json
import sys
import time


def _session(app: str):
    from agile_lakehouse_spark import get_session

    return get_session(f"cli-{app}")


def _read_points(spark, path: str, raw: bool = False):
    """Parquet directly; .las/.laz through the ``las`` DataSource
    (`sources/las_datasource.py`, ≙ LasDataSource
    `pc-io/src/las/source.rs:49-138`), ``raw`` keeping grid coordinates."""
    if path.endswith((".las", ".laz")):
        from agile_lakehouse_spark.sources.las_datasource import LasDataSource

        spark.dataSource.register(LasDataSource)
        return spark.read.format("las").option("raw", raw).load(path)
    return spark.read.parquet(path)


def cmd_convert(args) -> int:
    spark = _session("convert")
    if args.compression:
        spark.conf.set("spark.sql.parquet.compression.codec", args.compression)
    df = _read_points(spark, args.input, raw=args.raw)
    if args.importance:
        from agile_lakehouse_spark.schema import add_importance

        df = add_importance(df)
    df.write.mode("overwrite").parquet(args.output)
    n = spark.read.parquet(args.output).count()
    print(json.dumps({"command": "convert", "rows": n, "output": args.output}))
    return 0


def cmd_merge(args) -> int:
    spark = _session("merge")
    if args.compression:
        spark.conf.set("spark.sql.parquet.compression.codec", args.compression)
    from agile_lakehouse_spark.plans.layout import compact

    compact(spark, args.inputs, args.output, target_files=args.target_files)
    n = spark.read.parquet(args.output).count()
    print(json.dumps({"command": "merge", "rows": n, "output": args.output}))
    return 0


def cmd_partition(args) -> int:
    spark = _session("partition")
    from agile_lakehouse_spark.plans import layout

    df = _read_points(spark, args.input)
    t0 = time.time()
    if args.mode == "grid":
        layout.write_grid_layout(df, args.output, args.delta, args.delta, curve=args.curve)
    elif args.mode == "grid-importance":
        layout.write_grid_layout(df, args.output, args.delta, args.delta,
                                 importance_splits=args.splits, curve=args.curve)
    else:
        layout.write_quadtree_layout(df, args.output, depth=args.depth, side=args.side)
    n = spark.read.parquet(args.output).count()
    print(json.dumps({
        "command": "partition", "mode": args.mode, "rows": n,
        "seconds": round(time.time() - t0, 3), "output": args.output,
    }))
    return 0


def cmd_benchmark(args) -> int:
    """The reference's seeded query workload (`pc-cli/src/benchmark.rs:95-265`)
    against any points parquet dir — same shape `bench.py` runs per-round."""
    import os

    os.environ["SPARK_GRAFT_BENCH_RUNS"] = str(args.runs)
    spark = _session("benchmark")
    from bench import seeded_workload  # noqa: PLC0415 — repo-root module

    timings: dict[str, float] = {}
    t0 = time.time()
    seeded_workload(spark, args.input, timings)
    print(json.dumps({
        "command": "benchmark", "runs": args.runs,
        "total_seconds": round(time.time() - t0, 3), "queries": timings,
    }))
    return 0


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(prog="agile_lakehouse_spark.cli", description="A point cloud cli (Spark).")
    sub = p.add_subparsers(dest="command", required=True)

    c = sub.add_parser("convert", help="Convert point cloud format")
    c.add_argument("-i", "--input", required=True)
    c.add_argument("-o", "--output", required=True)
    c.add_argument("--raw", action="store_true", help="raw las point format (grid rounded coords)")
    c.add_argument("--importance", action="store_true", help="add deterministic importance column")
    c.add_argument("--compression", default=None, help="uncompressed|snappy|gzip|lz4|zstd")
    c.set_defaults(fn=cmd_convert)

    m = sub.add_parser("merge", help="Merge point cloud files")
    m.add_argument("inputs", nargs="+")
    m.add_argument("output")
    m.add_argument("--target-files", type=int, default=1)
    m.add_argument("--compression", default="zstd")
    m.set_defaults(fn=cmd_merge)

    t = sub.add_parser("partition", help="Write a query-optimized layout")
    t.add_argument("-i", "--input", required=True)
    t.add_argument("-o", "--output", required=True)
    t.add_argument("--mode", choices=["grid", "grid-importance", "quadtree"], default="grid")
    t.add_argument("--delta", type=float, default=100.0)
    t.add_argument("--splits", type=int, default=8)
    t.add_argument("--depth", type=int, default=2)
    t.add_argument("--side", type=float, default=1024.0)
    t.add_argument("--curve", choices=["morton", "hilbert"], default="morton")
    t.set_defaults(fn=cmd_partition)

    b = sub.add_parser("benchmark", help="Seeded query workload (benchmark.rs shape)")
    b.add_argument("input")
    b.add_argument("--runs", type=int, default=10)
    b.add_argument("--sampling", action="store_true", default=True)
    b.add_argument("--collect-statistics", action="store_true")
    b.set_defaults(fn=cmd_benchmark)

    args = p.parse_args(argv)
    return args.fn(args)


if __name__ == "__main__":
    sys.exit(main())
