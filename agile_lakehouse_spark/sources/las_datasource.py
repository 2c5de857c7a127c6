"""LAS/LAZ as a native Spark data source (Python DataSource API, Spark 4).

Where ``sources/las.py`` is a one-shot ELT helper, this module makes LAS a
first-class ``spark.read.format("las")`` source — the direct counterpart
of the reference's DataFusion ``TableProvider`` + ``LasExec``
(``pc-io/src/las/source.rs:49-138``, ``pc-io/src/las/exec.rs:108-169``):

- ``partitions()``  ≙ the LAZ chunk table: one ``InputPartition`` per
  fixed-size point chunk per file, so a 2-billion-point tile set fans out
  across the cluster exactly like the reference's rayon-per-chunk loop —
  except scheduled by Spark over executors, not threads.
- ``read(partition)`` ≙ ``LasExec::execute``: decode one chunk, yield
  rows.  Uncompressed ``.las`` decodes natively (``las_native.py``,
  vectorized frombuffer — no dependency); ``.laz`` formats 0-3 decode
  natively too (``laz_native.py``); exotic variants need laspy; a
  ``.fakelas`` synthetic decoder remains for partition-planning tests.

Filter pushdown note: the Python DataSource API (Spark 4.1) does have a
filter-pushdown hook, ``DataSourceReader.pushFilters``, but this reader
does not implement it: every chunk is decoded and Spark applies the
filters afterwards.  File/chunk min-max skipping (reference
``provider.rs:43-81``) therefore stays in the ELT path: ingest once to
Parquet and let footer/page stats prune.  This source is for exploratory
direct scans; the lakehouse path remains convert-then-query (SURVEY.md
§2.1 S1-S5).
"""

from __future__ import annotations

import os
import struct as _struct

from pyspark.sql.datasource import DataSource, DataSourceReader, InputPartition
from pyspark.sql.types import (
    DoubleType,
    IntegerType,
    StructField,
    StructType,
)

from agile_lakehouse_spark.sources.las import DEFAULT_CHUNK_POINTS, HAS_LASPY

LAS_SCHEMA = StructType(
    [
        StructField("x", DoubleType(), False),
        StructField("y", DoubleType(), False),
        StructField("z", DoubleType(), False),
        StructField("intensity", IntegerType(), False),
        StructField("classification", IntegerType(), False),
    ]
)


class LasChunkPartition(InputPartition):
    def __init__(self, path: str, offset: int, count: int):
        self.path = path
        self.offset = offset
        self.count = count


def _las_point_count(path: str) -> int:
    """Point count from the LAS public header block — metadata-only, no
    point decode (``las_native.read_header`` handles legacy vs 1.4 u64).

    Synthetic fixture files (``.fakelas``) store the count as ASCII.
    """
    if path.endswith(".fakelas"):
        with open(path) as f:
            return int(f.read().strip())
    from agile_lakehouse_spark.sources import las_native

    return las_native.read_header(path).n_points


def _decode_chunk(path: str, offset: int, count: int):
    """Yield (x, y, z, intensity, classification) rows for one chunk."""
    if path.endswith(".fakelas"):
        # SYNTHETIC decoder: deterministic rows from the global point
        # index — kept for partition-planning tests, NOT real LAS decode.
        for idx in range(offset, offset + count):
            yield (float(idx) * 0.5, float(idx % 1000), float(idx % 97), idx % 65536, idx % 256)
        return
    if path.endswith(".las"):
        # real uncompressed LAS: dependency-free vectorized decode
        from agile_lakehouse_spark.sources import las_native

        cols = las_native.decode_points(path, offset=offset, count=count)
        yield from zip(
            map(float, cols["x"]),
            map(float, cols["y"]),
            map(float, cols["z"]),
            map(int, cols["intensity"]),
            map(int, cols["classification"]),
        )
        return
    if path.endswith(".laz"):
        from agile_lakehouse_spark.sources import las as _las
        from agile_lakehouse_spark.sources import laz_native

        try:
            laz_native.read_laz_info(path)
        except NotImplementedError:
            pass  # non-POINT10 variant: fall through to laspy below
        else:
            yield from _las.decode_chunk_native_laz(_las.ChunkPlan(path, offset, count))
            return
    if not HAS_LASPY:  # pragma: no cover
        raise NotImplementedError(
            "this .laz variant needs laspy (native codec covers point formats 0-3)"
        )
    import laspy  # pragma: no cover

    with laspy.open(path) as rd:  # pragma: no cover
        rd.seek(offset)
        pts = rd.read_points(count)
        hdr = rd.header
        xs = pts.X * hdr.scales[0] + hdr.offsets[0]
        ys = pts.Y * hdr.scales[1] + hdr.offsets[1]
        zs = pts.Z * hdr.scales[2] + hdr.offsets[2]
        yield from zip(
            map(float, xs),
            map(float, ys),
            map(float, zs),
            map(int, pts.intensity),
            map(int, pts.classification),
        )


class LasDataSourceReader(DataSourceReader):
    def __init__(self, options: dict):
        self.path = options.get("path")
        if not self.path:
            raise ValueError("las source requires a path")
        self.chunk_points = int(options.get("chunk_points", DEFAULT_CHUNK_POINTS))

    def _files(self) -> list[str]:
        if os.path.isdir(self.path):
            return sorted(
                os.path.join(self.path, f)
                for f in os.listdir(self.path)
                if f.endswith((".las", ".laz", ".fakelas"))
            )
        return [self.path]

    def partitions(self):
        # the chunk table: one read unit per (file, point-range) — the unit
        # of parallelism AND of future skip-masks (source.rs:159-208).
        # For native-decodable .laz the units come from the REAL chunk
        # table (each one an independently-decodable compressed chunk).
        parts = []
        for f in self._files():
            if f.endswith(".laz"):
                from agile_lakehouse_spark.sources import laz_native

                try:
                    info = laz_native.read_laz_info(f)
                except NotImplementedError:
                    info = None
                if info is not None:
                    off = 0
                    for cnt in info.chunk_points:
                        parts.append(LasChunkPartition(f, off, cnt))
                        off += cnt
                    continue
            total = _las_point_count(f)
            off = 0
            while off < total:
                n = min(self.chunk_points, total - off)
                parts.append(LasChunkPartition(f, off, n))
                off += n
        return parts or [LasChunkPartition(self._files()[0], 0, 0)]

    def read(self, partition: LasChunkPartition):
        yield from _decode_chunk(partition.path, partition.offset, partition.count)


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
