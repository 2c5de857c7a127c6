"""PLY reader/writer (reference S7/S8: ``pc-io/src/ply.rs``).

ASCII **and binary** PLY are implemented dependency-free and round-trip
tested.  The read side is one header parse (:func:`vertex_meta`: vertex
properties, row count, format, offset of the vertex block) and one slice
decoder per encoding, each returning numpy columns that become one Arrow
batch typed to the Spark types of ``_PLY_TO_SPARK``.  :func:`read_ply`
(eager, driver-side — PLY files are small scene assets, not lake data)
and the ``ply`` DataSource (``ply_datasource.py``, one slice per task)
both read through them.  Binary payloads (``binary_little_endian`` /
``binary_big_endian``, reference ``pc-io/src/ply.rs:190-360``) are
fixed-width records, so a slice decodes with one ``numpy.frombuffer`` —
the same no-dependency pattern as ``las_native.py``.  The ascii writer
streams partitions to text via native expressions + ``concat_ws``; the
binary writer packs a structured array.

Like LAS, PLY is an ingest/export boundary: convert once, query Parquet.
"""

from __future__ import annotations

import itertools
from typing import NamedTuple

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession

_PLY_TO_SPARK = {
    "float": "float",
    "float32": "float",
    "double": "double",
    "float64": "double",
    "int": "int",
    "int32": "int",
    "uint": "bigint",
    "uint32": "bigint",
    "short": "smallint",
    "int16": "smallint",
    "ushort": "int",
    "uint16": "int",
    "char": "tinyint",
    "int8": "tinyint",
    "uchar": "smallint",
    "uint8": "smallint",
}
# PLY has no 64-bit integer type; bigint maps to 'int' (values must fit in
# i32 — better a loud overflow than double's silent precision loss > 2^53).
_SPARK_TO_PLY = {"float": "float", "double": "double", "int": "int", "bigint": "int", "smallint": "short", "tinyint": "char"}
_PLY_TO_NP = {
    "char": "i1", "int8": "i1",
    "uchar": "u1", "uint8": "u1",
    "short": "i2", "int16": "i2",
    "ushort": "u2", "uint16": "u2",
    "int": "i4", "int32": "i4",
    "uint": "u4", "uint32": "u4",
    "float": "f4", "float32": "f4",
    "double": "f8", "float64": "f8",
}
# numpy dtype of each Spark column type in a decoded batch
_SPARK_TO_NP = {"float": "f4", "double": "f8", "int": "i4", "bigint": "i8", "smallint": "i2", "tinyint": "i1"}
_INT_BOUNDS = {"int": (-(2**31), 2**31 - 1), "short": (-(2**15), 2**15 - 1), "char": (-128, 127)}


def _ply_header(df: DataFrame, n_rows: int, fmt: str) -> tuple[list[tuple[str, str]], str]:
    cols = [(f.name, f.dataType.simpleString()) for f in df.schema.fields]
    header = ["ply", f"format {fmt} 1.0", f"element vertex {n_rows}"]
    for name, t in cols:
        if t not in _SPARK_TO_PLY:
            raise ValueError(f"column {name!r}: no faithful PLY type for Spark {t}")
        header.append(f"property {_SPARK_TO_PLY[t]} {name}")
    header.append("end_header")
    return cols, "\n".join(header) + "\n"


def write_ply(
    df: DataFrame, path: str, binary: bool = False, max_rows: int = 10_000_000
) -> None:
    """Write a DataFrame as PLY — ascii (default) or binary_little_endian.

    Ascii: rows become text JVM-side (``concat_ws``), only the final file
    concat happens on the driver.  Binary: Arrow-collected columns pack
    into one structured array (PLY is a single-file format — inherently a
    collect point, same as the reference's writer); narrowing integer
    casts are bounds-checked so overflow is loud, never silent.

    The binary path funnels through the driver (``toPandas``), so it is
    guarded by ``max_rows`` (default 10 M ≈ hundreds of MB): a bigger
    DataFrame raises with a pointer at the ascii/streaming path instead
    of OOM-ing the driver.  Raise the limit explicitly if you mean it.
    """
    from pyspark.sql import functions as F

    if binary:
        # bounded collect: limit(max_rows + 1) executes the plan ONCE and
        # caps driver transfer at the guard size — a separate count()
        # would run the plan twice and could disagree with the collect on
        # a nondeterministic frame, defeating the guard
        pdf = df.limit(max_rows + 1).toPandas()
        if len(pdf) > max_rows:
            raise ValueError(
                f"write_ply(binary=True) collects all rows on the driver; "
                f"> max_rows={max_rows} rows. Use binary for exports "
                f"only — for large tables use the ascii path (streamed via "
                f"toLocalIterator) or pass an explicit max_rows."
            )
        cols, header = _ply_header(df, len(pdf), "binary_little_endian")
        dt = np.dtype([(n, "<" + _PLY_TO_NP[_SPARK_TO_PLY[t]]) for n, t in cols])
        rec = np.zeros(len(pdf), dtype=dt)
        for n, t in cols:
            vals = pdf[n].to_numpy()
            ply_t = _SPARK_TO_PLY[t]
            if ply_t in _INT_BOUNDS and len(vals):
                lo, hi = _INT_BOUNDS[ply_t]
                if vals.min() < lo or vals.max() > hi:
                    raise ValueError(f"column {n!r} overflows PLY {ply_t} range [{lo}, {hi}]")
            rec[n] = vals
        with open(path, "wb") as f:
            f.write(header.encode("ascii"))
            f.write(rec.tobytes())
        return

    cols, header = _ply_header(df, df.count(), "ascii")
    lines = df.select(F.concat_ws(" ", *[F.col(n).cast("string") for n, _ in cols]).alias("l"))
    with open(path, "w", encoding="ascii") as f:
        f.write(header)
        for (line,) in lines.toLocalIterator():
            f.write(line + "\n")


class _Vertex(NamedTuple):
    """The vertex element as the header describes it."""

    props: list[tuple[str, str]]  # (name, PLY type)
    n_rows: int
    fmt: str
    payload: int  # byte offset of the first payload byte (after end_header)
    skip: int  # elements before the vertex block: bytes (binary) or lines (ascii)

    @property
    def columns(self) -> list[tuple[str, str]]:
        """(name, Spark type) of each vertex property."""
        return [(p, _PLY_TO_SPARK[t]) for p, t in self.props]


def vertex_meta(path: str) -> _Vertex:
    """Parse the header once: vertex properties, row count, format and
    the offset of the vertex block — metadata only, no payload read.
    Every element before the vertex block is skipped, which in a binary
    file needs it to be scalar-only (fixed width)."""
    with open(path, "rb") as f:
        head = f.read(65536)
    marker = head.find(b"end_header")
    if marker < 0:
        raise ValueError("PLY header exceeds 64 KiB or missing end_header")
    lines = head[:marker].decode("ascii", "replace").splitlines()
    if not lines or lines[0].strip() != "ply":
        raise ValueError("not a PLY file")
    elements: list[tuple[str, int, list[tuple[str, str]]]] = []
    fmt = "ascii"
    for parts in map(str.split, lines[1:]):
        if parts[:1] == ["format"]:
            fmt = parts[1]
        elif parts[:1] == ["element"]:
            elements.append((parts[1], int(parts[2]), []))
        elif parts[:1] == ["property"] and elements:
            elements[-1][2].append((parts[-1], parts[1]))  # a list property has type "list"
    if fmt not in ("ascii", "binary_little_endian", "binary_big_endian"):
        raise ValueError(f"unknown PLY format {fmt!r}")
    names = [e[0] for e in elements]
    if "vertex" not in names:
        raise ValueError("no vertex element")
    _, n_rows, props = elements[names.index("vertex")]
    if any(t == "list" for _, t in props):
        raise ValueError("list properties unsupported on vertex")
    skip = 0
    for name, count, eprops in elements[: names.index("vertex")]:
        if fmt == "ascii":
            skip += count
        elif any(t == "list" for _, t in eprops):
            raise ValueError(f"element {name!r} with list properties precedes vertex")
        else:
            skip += count * sum(np.dtype(_PLY_TO_NP[t]).itemsize for _, t in eprops)
    return _Vertex(props, n_rows, fmt, head.index(b"\n", marker) + 1, skip)


def _binary_slice(f, v: _Vertex, start: int, count: int) -> list[np.ndarray]:
    """Fixed-width records: seek by offset arithmetic, one frombuffer."""
    order = "<" if v.fmt == "binary_little_endian" else ">"
    dt = np.dtype([(p, order + _PLY_TO_NP[t]) for p, t in v.props])
    f.seek(v.payload + v.skip + start * dt.itemsize)
    buf = f.read(count * dt.itemsize)
    if len(buf) < count * dt.itemsize:
        raise ValueError(f"truncated PLY payload: {len(buf)} bytes for {count} rows")
    rec = np.frombuffer(buf, dtype=dt, count=count)
    return [rec[p] for p, _ in v.props]


def _ascii_slice(f, v: _Vertex, start: int, count: int) -> list[np.ndarray]:
    """One row per line: skip lines with islice, never reading the whole
    file (a full read per slice would make the DataSource O(file size x
    slices)).  Values parse as f64, exact for every PLY integer type."""
    f.seek(v.payload)
    body = itertools.islice(f, v.skip + start, v.skip + start + count)
    return list(np.array([line.split() for line in body], dtype=np.float64).reshape(-1, len(v.props)).T)


def _decode(path: str, v: _Vertex, start: int, count: int) -> pa.RecordBatch:
    count = max(0, min(count, v.n_rows - start))
    with open(path, "rb") as f:
        cols = (_ascii_slice if v.fmt == "ascii" else _binary_slice)(f, v, start, count)
    return pa.RecordBatch.from_arrays(
        [pa.array(c.astype(_SPARK_TO_NP[t])) for c, (_, t) in zip(cols, v.columns)],
        names=[p for p, _ in v.props],
    )


def read_vertex_slice(path: str, start: int, count: int) -> pa.RecordBatch:
    """Vertex rows [start, start+count) as one Arrow batch typed to the
    Spark types of the header — the executor-side read unit of the
    ``ply`` DataSource.  A slice past the last row is empty."""
    return _decode(path, vertex_meta(path), start, count)


def read_ply(spark: SparkSession, path: str) -> DataFrame:
    """Read a PLY file (ascii or binary, either endianness) into a
    DataFrame — eager driver-side decode into one Arrow table, so a
    malformed file raises here, at the call.

    The reference slices payloads at 524,288 rows (``ply.rs:44-220``);
    here the DataFrame partitioning takes that role.
    """
    v = vertex_meta(path)
    return spark.createDataFrame(pa.Table.from_batches([_decode(path, v, 0, v.n_rows)]))


