"""``pc_query``: the reference's query mix over a grid-laid-out cloud.

Setup writes a seeded synthetic cloud as LAS tiles, reads it through the
package's ``las`` DataSource, converts it to Parquet with an importance
column, and lays it out with ``write_grid_layout``; it is checked by row
count and bounding box after the convert and after the layout.  The timed
loop runs cycles of the seven query types, each four times, in a seeded
order; one client, each query waiting for the previous one.  Every answer is checked against
numpy over the same points.
"""

from __future__ import annotations

import os
import shutil
import time

import numpy as np

from perfbench.common import Op, disk_bytes

EXTENT = 1000.0  # metres; the cloud covers [0, EXTENT)^2
TILES = 2  # TILES x TILES LAS files
POINTS = 500_000
WARMUP_POINTS = 20_000  # the warm-up set-up only has to load and compile the code paths
CELLS = 16  # grid cells; a layout file holds at most one cell's worth of points
PER_CYCLE = 4  # queries of each type per cycle
WARMUP_CYCLES = 2  # untimed cycles before the timed ones
POINT_BYTES = 8 * 3 + 4 + 4 + 4  # x, y, z doubles; intensity, classification ints; i float
SCALE = 0.001

QUERIES = {
    # name: (kind, size) — rect side or circle radius in metres, k, or p
    "rect_s": ("rect", 25.0),
    "rect_m": ("rect", 100.0),
    "circle_s": ("circle", 12.5),
    "circle_m": ("circle", 50.0),
    "knn_1000": ("knn", 1000),
    "knn_5000": ("knn", 5000),
    "sample": ("sample", 0.005),
}


def write_tiles(out_dir: str, rng: np.random.Generator, n: int) -> dict[str, np.ndarray]:
    """Seeded LAS tiles; returns the decoded coordinates a reader must see."""
    from agile_lakehouse_spark.sources.las_native import write_las

    os.makedirs(out_dir, exist_ok=True)
    per = n // (TILES * TILES)
    side = EXTENT / TILES
    cols = {"x": [], "y": [], "z": []}
    for tx in range(TILES):
        for ty in range(TILES):
            # integer LAS grid first, so the decoded doubles are known exactly
            gx = rng.integers(int(tx * side / SCALE), int((tx + 1) * side / SCALE), per, dtype=np.int32)
            gy = rng.integers(int(ty * side / SCALE), int((ty + 1) * side / SCALE), per, dtype=np.int32)
            gz = rng.integers(0, int(100 / SCALE), per, dtype=np.int32)
            x, y, z = gx * SCALE + 0.0, gy * SCALE + 0.0, gz * SCALE + 0.0
            write_las(
                os.path.join(out_dir, f"tile_{tx}_{ty}.las"), x, y, z,
                intensity=rng.integers(0, 65536, per), classification=rng.integers(0, 32, per),
                scales=(SCALE, SCALE, SCALE),
            )
            for k, v in zip("xyz", (x, y, z)):
                cols[k].append(v)
    return {k: np.concatenate(v) for k, v in cols.items()}


def read_points(path: str) -> dict[str, np.ndarray]:
    """Columns of a Parquet dataset read with pyarrow, not Spark."""
    import pyarrow.dataset as ds

    t = ds.dataset(path, format="parquet").to_table(columns=["x", "y", "z", "i"])
    return {c: t.column(c).to_numpy() for c in t.column_names}


def same_extent(a: dict, b: dict) -> bool:
    """Equal row counts and bounding boxes over x, y, z."""
    if len(a["x"]) != len(b["x"]):
        return False
    return all(a[c].min() == b[c].min() and a[c].max() == b[c].max() for c in "xyz")


# -- numpy oracles ------------------------------------------------------------

def rect_count(pts, x0, x1, y0, y1) -> int:
    x, y = pts["x"], pts["y"]
    return int(np.count_nonzero((x >= x0) & (x < x1) & (y >= y0) & (y < y1)))


def circle_count(pts, cx, cy, r) -> int:
    x, y = pts["x"], pts["y"]
    box = (x >= cx - r) & (x < cx + r) & (y >= cy - r) & (y < cy + r)
    dx, dy = x[box] - cx, y[box] - cy
    return int(np.count_nonzero(dx * dx + dy * dy < float(r) ** 2))


def knn_dist2(pts, cx, cy, k) -> np.ndarray:
    dx, dy = pts["x"] - cx, pts["y"] - cy
    d2 = dx * dx + dy * dy
    return np.sort(np.partition(d2, k - 1)[:k])


def sample_count(pts, p) -> int:
    i = pts["i"].astype(np.float64)
    return int(np.count_nonzero((i >= 0.0) & ((i <= p) if p >= 1.0 else (i < p))))


class PcQuery:
    cycle_s = 8.0  # seconds one cycle takes on a 4-core box

    def __init__(self, spark, work: str, seed: int, tracer):
        self.spark, self.work, self.seed, self.tracer = spark, work, seed, tracer
        self.setups = 0

    def setup(self, warm_up: bool = False) -> None:
        from agile_lakehouse_spark.plans import layout
        from agile_lakehouse_spark.schema import add_importance
        from agile_lakehouse_spark.sources.las_datasource import LasDataSource

        tr, spark = self.tracer, self.spark
        shutil.rmtree(os.path.join(self.work, f"setup{self.setups - 1}"), ignore_errors=True)
        base = os.path.join(self.work, f"setup{self.setups}")
        self.setups += 1
        rng = np.random.default_rng([self.seed, 1])
        t0 = time.perf_counter()
        with tr.span("sources", "write_las"):
            truth = write_tiles(os.path.join(base, "las"), rng, WARMUP_POINTS if warm_up else POINTS)
        spark.dataSource.register(LasDataSource)
        conv, grid = os.path.join(base, "converted"), os.path.join(base, "grid")
        t1 = time.perf_counter()
        with tr.span("sources", "read_convert"):
            pts = add_importance(spark.read.format("las").load(os.path.join(base, "las")))
            pts.write.mode("overwrite").parquet(conv)
        t2 = time.perf_counter()
        with tr.span("plans.layout", "write_grid"):
            n = len(truth["x"])
            delta = layout.derive_grid_size(n, EXTENT * EXTENT, batch_size=n // CELLS)
            layout.write_grid_layout(
                spark.read.parquet(conv), grid, delta, delta, max_records_per_file=n // CELLS
            )
        t3 = time.perf_counter()
        converted, laid_out = read_points(conv), read_points(grid)
        if not (same_extent(truth, converted) and same_extent(truth, laid_out)):
            raise RuntimeError("convert or layout changed the point set")
        self.points = converted
        self.grid = grid
        self.setup_s = t3 - t0
        self.ingest_s = t3 - t1
        self.n = n
        self.files_in_layout = sum(1 for f in os.listdir(grid) if f.endswith(".parquet"))
        self.layout_bytes = disk_bytes(grid)
        self.write_bytes = disk_bytes(conv) + self.layout_bytes

    def user_bytes(self) -> float:
        return float(self.n * POINT_BYTES)

    def write_amp(self) -> float:
        return self.write_bytes / self.user_bytes()

    def space_amp(self) -> float:
        return self.layout_bytes / self.user_bytes()

    def cycle(self, c: int):
        rng = np.random.default_rng([self.seed, 2, c])
        return self._queries(rng, rng.permutation(sorted(QUERIES) * PER_CYCLE))

    def warmup_ops(self):
        """``WARMUP_CYCLES`` cycles of queries, from a stream of their own."""
        rng = np.random.default_rng([self.seed, 4])
        for _ in range(WARMUP_CYCLES):
            yield from self._queries(rng, rng.permutation(sorted(QUERIES) * PER_CYCLE))

    def _queries(self, rng, names):
        from agile_lakehouse_spark.operators import pointcloud as pc

        df = self.spark.read.parquet(self.grid)
        pts, tr = self.points, self.tracer
        for qname in names:
            kind, size = QUERIES[qname]
            cx, cy = (float(v) for v in rng.uniform(100.0, EXTENT - 100.0, 2))

            if kind == "rect":
                h = size / 2

                def run(cx=cx, cy=cy, h=h):
                    with tr.span("operators.pointcloud", "build"):
                        q = pc.range_query(df, {"x": (cx - h, cx + h), "y": (cy - h, cy + h)})
                    return q.count()

                want = rect_count(pts, cx - h, cx + h, cy - h, cy + h)
                check = lambda got, want=want: got == want  # noqa: E731
            elif kind == "circle":

                def run(cx=cx, cy=cy, r=size):
                    with tr.span("operators.pointcloud", "build"):
                        q = pc.circle_query(df, cx, cy, r)
                    return q.count()

                want = circle_count(pts, cx, cy, size)
                check = lambda got, want=want: got == want  # noqa: E731
            elif kind == "knn":

                def run(cx=cx, cy=cy, k=size):
                    with tr.span("operators.pointcloud", "build"):
                        q = pc.knn(df, cx, cy, k, id_col="intensity")
                    return np.sort(np.array([r["dist2"] for r in q.collect()]))

                want = knn_dist2(pts, cx, cy, size)
                check = lambda got, want=want: np.array_equal(got, want)  # noqa: E731
            else:

                def run(p=size):
                    with tr.span("operators.pointcloud", "build"):
                        q = pc.sample(df, p=p)
                    return q.count()

                want = sample_count(pts, size)
                check = lambda got, want=want: got == want  # noqa: E731
            yield Op("read", str(qname), "operators.pointcloud", run, check)
