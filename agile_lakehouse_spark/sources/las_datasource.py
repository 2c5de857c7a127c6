"""LAS/LAZ as a native Spark data source (Python DataSource API, Spark 4).

``spark.read.format("las")`` is the engine's one LAS/LAZ reader — the
counterpart of the reference's DataFusion ``TableProvider`` + ``LasExec``
(``pc-io/src/las/source.rs:49-138``, ``pc-io/src/las/exec.rs:108-169``):

- ``partitions()``  ≙ the LAZ chunk table: one ``InputPartition`` per
  chunk per file.  A native-decodable ``.laz`` (point formats 0-3) fans
  out by its REAL chunk table, each unit an independently decodable
  compressed chunk; ``.las`` and other ``.laz`` variants fan out in fixed
  ``chunk_points`` slices.  Spark schedules the units over executors, as
  the reference's rayon-per-chunk loop does over threads.
- ``read(partition)`` ≙ ``LasExec::execute``: decode one chunk and yield
  it as one ``pyarrow.RecordBatch`` typed to :data:`LAS_SCHEMA` — numpy
  columns straight into Arrow, no per-row Python.  ``.las`` decodes with
  ``las_native`` (one frombuffer), ``.laz`` formats 0-3 with ``laz_native``
  (vendored LASzip codec); only other ``.laz`` variants need laspy.

Options: ``chunk_points`` (fixed slice size, default 524,288 — the
reference batch size, ``pc-io/src/config.rs:3``) and ``raw`` (``true``
keeps the integer grid coordinates instead of ``X * scale + offset``,
the reference's ``--raw`` mode, ``pc-io/src/las/schema.rs:11-53``).

Filter pushdown note: the Python DataSource API (Spark 4.1) does have a
filter-pushdown hook, ``DataSourceReader.pushFilters``, but this reader
does not implement it: every chunk is decoded and Spark applies the
filters afterwards.  File/chunk min-max skipping (reference
``provider.rs:43-81``) therefore stays in the ELT path: convert once to
Parquet and let footer/page stats prune (SURVEY.md §2.1 S1-S5).
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
from pyspark.sql.datasource import DataSource, DataSourceReader, InputPartition
from pyspark.sql.types import (
    DoubleType,
    IntegerType,
    StructField,
    StructType,
)

from agile_lakehouse_spark.sources import las_native, laz_native

try:  # pragma: no cover - optional dependency
    import laspy  # type: ignore
except ImportError:
    laspy = None

DEFAULT_CHUNK_POINTS = 524_288  # reference batch size (pc-io/src/config.rs:3)

LAS_SCHEMA = StructType(
    [
        StructField("x", DoubleType(), False),
        StructField("y", DoubleType(), False),
        StructField("z", DoubleType(), False),
        StructField("intensity", IntegerType(), False),
        StructField("classification", IntegerType(), False),
    ]
)
# numpy dtype of each LAS_SCHEMA column in the Arrow batch
_COLUMNS = {"x": "f8", "y": "f8", "z": "f8", "intensity": "i4", "classification": "i4"}


class LasChunkPartition(InputPartition):
    def __init__(self, path: str, offset: int, count: int):
        self.path = path
        self.offset = offset
        self.count = count


def _laz_info(path: str):
    """The LASzip chunk table of a natively decodable ``.laz``, else None."""
    if not path.endswith(".laz"):
        return None
    try:
        return laz_native.read_laz_info(path)
    except NotImplementedError:
        return None  # non-POINT10 variant: fixed slices, laspy decode


def _decode_laspy(path: str, offset: int, count: int, raw: bool) -> dict:
    if laspy is None:
        raise NotImplementedError("this .laz variant needs laspy (native decode covers point formats 0-3)")
    with laspy.open(path) as rd:  # pragma: no cover
        rd.seek(offset)
        pts = rd.read_points(count)
        cols = {"intensity": pts.intensity, "classification": pts.classification}
        for i, c in enumerate("xyz"):
            grid = np.asarray(pts[c.upper()])
            cols[c] = grid if raw else grid * rd.header.scales[i] + rd.header.offsets[i]
        return cols


def _decode_chunk(path: str, offset: int, count: int, raw: bool) -> dict:
    """Column arrays of one chunk (``raw``: integer grid coordinates)."""
    info = _laz_info(path)
    if info is not None:
        return laz_native.decode_laz_chunk(path, info, offset // info.chunk_size, raw=raw)
    if path.endswith(".laz"):
        return _decode_laspy(path, offset, count, raw)
    return las_native.decode_points(path, offset=offset, count=count, raw=raw)


class LasDataSourceReader(DataSourceReader):
    def __init__(self, options: dict):
        self.path = options.get("path")
        if not self.path:
            raise ValueError("las source requires a path")
        self.chunk_points = int(options.get("chunk_points", DEFAULT_CHUNK_POINTS))
        self.raw = str(options.get("raw", "false")).lower() == "true"

    def _files(self) -> list[str]:
        if not os.path.isdir(self.path):
            return [self.path]
        files = sorted(os.path.join(self.path, f) for f in os.listdir(self.path) if f.endswith((".las", ".laz")))
        if not files:
            raise ValueError(f"no .las/.laz files in {self.path!r}")
        return files

    def partitions(self):
        # the chunk table: one read unit per (file, point range) — the unit
        # of parallelism and of future skip masks (source.rs:159-208)
        files, parts = self._files(), []
        for f in files:
            info = _laz_info(f)
            if info is not None:
                counts = info.chunk_points
            else:
                total = las_native.read_header(f).n_points
                counts = [min(self.chunk_points, total - o) for o in range(0, total, self.chunk_points)]
            offset = 0
            for n in counts:
                parts.append(LasChunkPartition(f, offset, n))
                offset += n
        return parts or [LasChunkPartition(files[0], 0, 0)]

    def read(self, partition: LasChunkPartition):
        if not partition.count:
            return
        cols = _decode_chunk(partition.path, partition.offset, partition.count, self.raw)
        yield pa.RecordBatch.from_arrays(
            [pa.array(np.asarray(cols[c], dtype=t)) for c, t in _COLUMNS.items()], names=list(_COLUMNS)
        )


class LasDataSource(DataSource):
    """``spark.dataSource.register(LasDataSource)`` then
    ``spark.read.format("las").option("chunk_points", ...).load(path)``."""

    @classmethod
    def name(cls) -> str:
        return "las"

    def schema(self) -> StructType:
        return LAS_SCHEMA

    def reader(self, schema: StructType) -> DataSourceReader:
        return LasDataSourceReader(self.options)
