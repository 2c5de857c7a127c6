"""PLY reader/writer (reference S7/S8: ``pc-io/src/ply.rs``).

ASCII **and binary** PLY are implemented dependency-free and round-trip
tested: header parse -> schema, payload -> DataFrame (reader is
driver-side — PLY files are small scene assets, not lake data).  Binary
payloads (``binary_little_endian`` / ``binary_big_endian``, reference
``pc-io/src/ply.rs:190-360``) are fixed-width records, so they decode with
one ``numpy.frombuffer`` — the same no-dependency pattern as
``las_native.py``.  The ascii writer streams partitions to text via native
expressions + ``concat_ws``; the binary writer packs a structured array.

Like LAS, PLY is an ingest/export boundary: convert once, query Parquet.
"""

from __future__ import annotations

import numpy as np

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
_INT_BOUNDS = {"int": (-(2**31), 2**31 - 1), "short": (-(2**15), 2**15 - 1), "char": (-128, 127)}


def _parse_elements(lines: list[str]) -> tuple[list[tuple[str, int, list[tuple[str, str]]]], str]:
    """Full header parse: every element with its count and scalar
    properties (PLY type names), in file order — needed to compute binary
    payload offsets when vertex is not the first element."""
    if not lines or lines[0].strip() != "ply":
        raise ValueError("not a PLY file")
    elements: list[tuple[str, int, list[tuple[str, str]]]] = []
    fmt = "ascii"
    for line in lines[1:]:
        parts = line.split()
        if not parts:
            continue
        if parts[0] == "format":
            fmt = parts[1]
        elif parts[0] == "element":
            elements.append((parts[1], int(parts[2]), []))
        elif parts[0] == "property" and elements:
            if parts[1] == "list":
                elements[-1][2].append(("__list__", "list"))
            else:
                elements[-1][2].append((parts[2], parts[1]))
        elif parts[0] == "end_header":
            break
    return elements, fmt


def read_ply(spark: SparkSession, path: str) -> DataFrame:
    """Read a PLY file (ascii or binary, either endianness) into a
    DataFrame — driver-side parse, dependency-free.

    The reference slices payloads at 524,288 rows (``ply.rs:44-220``);
    here the DataFrame partitioning takes that role.
    """
    with open(path, "rb") as f:
        head = f.read(65536)
    marker = head.find(b"end_header")
    if marker < 0:
        raise ValueError("PLY header exceeds 64 KiB or missing end_header")
    header_text = head[:marker].decode("ascii", "replace")
    elements, fmt = _parse_elements(header_text.splitlines() + ["end_header"])
    data_start = head.index(b"\n", marker) + 1

    vertex = next((e for e in elements if e[0] == "vertex"), None)
    if vertex is None:
        raise ValueError("no vertex element")
    _, n_rows, ply_props = vertex
    if any(t == "list" for _, t in ply_props):
        raise ValueError("list properties unsupported on vertex")
    props = [(p, _PLY_TO_SPARK[t]) for p, t in ply_props]
    schema = ", ".join(f"{n} {t}" for n, t in props)

    if fmt in ("binary_little_endian", "binary_big_endian"):
        order = "<" if fmt == "binary_little_endian" else ">"
        # byte offset of the vertex block: preceding elements must be
        # scalar-only (fixed width) to be skippable
        offset = 0
        for name, count, eprops in elements:
            if name == "vertex":
                break
            if any(t == "list" for _, t in eprops):
                raise ValueError(f"element {name!r} with list properties precedes vertex")
            offset += count * sum(np.dtype(order + _PLY_TO_NP[t]).itemsize for _, t in eprops)
        dt = np.dtype([(p, order + _PLY_TO_NP[t]) for p, t in ply_props])
        with open(path, "rb") as f:
            f.seek(data_start + offset)
            buf = f.read(n_rows * dt.itemsize)
        if len(buf) < n_rows * dt.itemsize:
            raise ValueError(f"truncated PLY payload: {len(buf)} bytes for {n_rows} rows")
        rec = np.frombuffer(buf, dtype=dt, count=n_rows)
        floats = {"float", "double"}
        rows = [
            tuple(
                float(rec[n][i]) if t in floats else int(rec[n][i])
                for n, t in props
            )
            for i in range(n_rows)
        ]
        return spark.createDataFrame(rows, schema=schema)

    if fmt != "ascii":
        raise ValueError(f"unknown PLY format {fmt!r}")
    with open(path, encoding="ascii") as f:
        lines = f.read().splitlines()
    body = lines[lines.index("end_header") + 1 :][:n_rows]
    casts = {"float", "double"}
    rows = []
    for line in body:
        vals = line.split()
        rows.append(
            tuple(
                float(v) if t in casts else int(v)
                for v, (_, t) in zip(vals, props)
            )
        )
    return spark.createDataFrame(rows, schema=schema)


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


def vertex_meta(path: str) -> tuple[list[tuple[str, str]], int]:
    """(props as (name, spark_type), n_rows) of the vertex element —
    metadata-only header read, used by the ``ply`` DataSource planner."""
    with open(path, "rb") as f:
        head = f.read(65536)
    marker = head.find(b"end_header")
    if marker < 0:
        raise ValueError("PLY header exceeds 64 KiB or missing end_header")
    header_text = head[:marker].decode("ascii", "replace")
    elements, _fmt = _parse_elements(header_text.splitlines() + ["end_header"])
    vertex = next((e for e in elements if e[0] == "vertex"), None)
    if vertex is None:
        raise ValueError("no vertex element")
    _, n_rows, ply_props = vertex
    if any(t == "list" for _, t in ply_props):
        raise ValueError("list properties unsupported on vertex")
    return [(p, _PLY_TO_SPARK[t]) for p, t in ply_props], n_rows


def read_vertex_slice(path: str, start: int, count: int) -> list[tuple]:
    """Decode vertex rows [start, start+count) — the executor-side read
    unit of the ``ply`` DataSource.  Binary slices seek directly
    (fixed-width records: offset arithmetic, no scan); ascii slices skip
    lines.  Same dependency-free decode paths as :func:`read_ply`."""
    with open(path, "rb") as f:
        head = f.read(65536)
    marker = head.find(b"end_header")
    if marker < 0:
        raise ValueError("PLY header exceeds 64 KiB or missing end_header")
    header_text = head[:marker].decode("ascii", "replace")
    elements, fmt = _parse_elements(header_text.splitlines() + ["end_header"])
    data_start = head.index(b"\n", marker) + 1
    vertex = next(e for e in elements if e[0] == "vertex")
    _, n_rows, ply_props = vertex
    props = [(p, _PLY_TO_SPARK[t]) for p, t in ply_props]
    count = max(0, min(count, n_rows - start))
    floats = {"float", "double"}

    if fmt in ("binary_little_endian", "binary_big_endian"):
        order = "<" if fmt == "binary_little_endian" else ">"
        offset = 0
        for name, ecount, eprops in elements:
            if name == "vertex":
                break
            if any(t == "list" for _, t in eprops):
                raise ValueError(f"element {name!r} with list properties precedes vertex")
            offset += ecount * sum(np.dtype(order + _PLY_TO_NP[t]).itemsize for _, t in eprops)
        dt = np.dtype([(p, order + _PLY_TO_NP[t]) for p, t in ply_props])
        with open(path, "rb") as f:
            f.seek(data_start + offset + start * dt.itemsize)
            buf = f.read(count * dt.itemsize)
        if len(buf) < count * dt.itemsize:
            raise ValueError("truncated PLY payload slice")
        rec = np.frombuffer(buf, dtype=dt, count=count)
        return [
            tuple(float(rec[n][i]) if t in floats else int(rec[n][i]) for n, t in props)
            for i in range(count)
        ]

    if fmt != "ascii":
        raise ValueError(f"unknown PLY format {fmt!r}")
    # stream: skip header + `start` rows with islice, never materializing
    # the whole file — a full read().splitlines() per slice would make the
    # DataSource O(file_size x n_slices) on ascii inputs
    import itertools

    with open(path, encoding="ascii") as f:
        for line in f:
            if line.strip() == "end_header":
                break
        body = itertools.islice(f, start, start + count)
        return [
            tuple(float(v) if t in floats else int(v) for v, (_, t) in zip(line.split(), props))
            for line in body
        ]
