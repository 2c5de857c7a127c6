"""PLY as a native Spark data source (Python DataSource API, Spark 4).

``sources/ply.read_ply`` reads eagerly on the driver (scene assets); this
module makes PLY a first-class ``spark.read.format("ply")`` source with
EXECUTOR-side decode: one ``InputPartition`` per (file, row slice),
mirroring the reference's 524,288-row payload slicing
(``pc-io/src/ply.rs:44-220``) and the ``las`` DataSource's chunk-table
discipline.  Both go through ``ply.py``'s one header parse and slice
decoders, and ``read()`` yields each slice as one Arrow batch.  Binary
slices seek by offset arithmetic (fixed-width records); all files must
share the first file's vertex schema, as the reference enforces for
multi-file LAS (``pc-io/src/las/source.rs:112-134``).
"""

from __future__ import annotations

import os

from pyspark.sql.datasource import DataSource, DataSourceReader, InputPartition
from pyspark.sql.types import (
    ByteType,
    DoubleType,
    FloatType,
    IntegerType,
    LongType,
    ShortType,
    StructField,
    StructType,
)

from agile_lakehouse_spark.sources import ply as _ply

DEFAULT_SLICE_ROWS = 524_288


class PlySlicePartition(InputPartition):
    def __init__(self, path: str, start: int, count: int):
        self.path = path
        self.start = start
        self.count = count


class PlyDataSourceReader(DataSourceReader):
    def __init__(self, options: dict):
        self.path = options.get("path")
        if not self.path:
            raise ValueError("ply source requires a path")
        self.slice_rows = int(options.get("slice_rows", DEFAULT_SLICE_ROWS))

    def _files(self) -> list[str]:
        if os.path.isdir(self.path):
            files = sorted(
                os.path.join(self.path, f) for f in os.listdir(self.path) if f.endswith(".ply")
            )
            if not files:
                raise ValueError(f"no .ply files in {self.path!r}")
            return files
        return [self.path]

    def partitions(self):
        files = self._files()
        metas = [_ply.vertex_meta(f) for f in files]
        parts = []
        for f, v in zip(files, metas):
            if v.columns != metas[0].columns:
                raise ValueError(f"{f}: vertex schema differs from {files[0]}")
            for start in range(0, v.n_rows, self.slice_rows):
                parts.append(PlySlicePartition(f, start, min(self.slice_rows, v.n_rows - start)))
        return parts or [PlySlicePartition(files[0], 0, 0)]

    def read(self, partition: PlySlicePartition):
        yield _ply.read_vertex_slice(partition.path, partition.start, partition.count)


class PlyDataSource(DataSource):
    """``spark.dataSource.register(PlyDataSource)`` then
    ``spark.read.format("ply").load(path)``."""

    @classmethod
    def name(cls) -> str:
        return "ply"

    def schema(self):
        path = PlyDataSourceReader(self.options)._files()[0]
        # build the StructType directly: _parse_datatype_string needs an
        # active JVM session, which is absent when the pickled DataSource
        # re-derives its schema inside an executor worker
        types = {
            "double": DoubleType(),
            "float": FloatType(),
            "int": IntegerType(),
            "bigint": LongType(),
            "smallint": ShortType(),
            "tinyint": ByteType(),
        }
        return StructType([StructField(n, types[t], False) for n, t in _ply.vertex_meta(path).columns])

    def reader(self, schema) -> DataSourceReader:
        return PlyDataSourceReader(self.options)
