"""Binary PLY read/write (closes SURVEY §2 S7/S8 fully — reference
``pc-io/src/ply.rs:190-360``): dependency-free struct decode, round-trips
against the ascii path on the same rows, integer types preserved."""

import struct

import numpy as np
import pytest

from agile_lakehouse_spark.sources import ply


def _df(spark):
    rows = [
        (1.5, -2.25, 3.125, 1000, -7, 30000),
        (-0.5, 0.0, 99.875, 65000, 120, -30000),
        (12.0, 7.5, -1.0, 0, -128, 0),
    ]
    return spark.createDataFrame(
        rows, "x float, y float, z double, i int, c tinyint, s smallint"
    )


def test_binary_round_trip_matches_ascii(spark, tmp_path):
    df = _df(spark)
    pa, pb = str(tmp_path / "a.ply"), str(tmp_path / "b.ply")
    ply.write_ply(df, pa)
    ply.write_ply(df, pb, binary=True)
    a = sorted(map(tuple, ply.read_ply(spark, pa).collect()))
    b = sorted(map(tuple, ply.read_ply(spark, pb).collect()))
    assert a == b == sorted(map(tuple, df.collect()))
    # schema fidelity: integer columns stay integers, exact dtypes
    back = ply.read_ply(spark, pb)
    assert [f.dataType.simpleString() for f in back.schema.fields] == [
        "float", "float", "double", "int", "tinyint", "smallint"
    ]


def test_binary_bigint_bounds_checked(spark, tmp_path):
    ok = spark.createDataFrame([(2**31 - 1,), (-5,)], "v bigint")
    p = str(tmp_path / "ok.ply")
    ply.write_ply(ok, p, binary=True)
    assert sorted(r.v for r in ply.read_ply(spark, p).collect()) == [-5, 2**31 - 1]
    bad = spark.createDataFrame([(2**31,)], "v bigint")
    with pytest.raises(ValueError, match="overflows"):
        ply.write_ply(bad, str(tmp_path / "bad.ply"), binary=True)


def test_binary_big_endian_read(spark, tmp_path):
    # hand-built big-endian file: foreign-tool interop path
    header = (
        "ply\nformat binary_big_endian 1.0\n"
        "element vertex 2\n"
        "property float x\nproperty ushort i\n"
        "end_header\n"
    ).encode("ascii")
    payload = struct.pack(">fH", 1.5, 700) + struct.pack(">fH", -2.0, 65535)
    p = tmp_path / "be.ply"
    p.write_bytes(header + payload)
    got = sorted((r.x, r.i) for r in ply.read_ply(spark, str(p)).collect())
    assert got == [(-2.0, 65535), (1.5, 700)]


def test_binary_vertex_after_scalar_element(spark, tmp_path):
    # vertex is not the first element: offset must skip the camera block
    header = (
        "ply\nformat binary_little_endian 1.0\n"
        "element camera 1\nproperty double cx\nproperty double cy\n"
        "element vertex 2\nproperty float x\nproperty uchar c\n"
        "end_header\n"
    ).encode("ascii")
    payload = struct.pack("<dd", 9.0, 8.0) + struct.pack("<fB", 4.5, 3) + struct.pack("<fB", 5.5, 200)
    p = tmp_path / "multi.ply"
    p.write_bytes(header + payload)
    got = sorted((r.x, r.c) for r in ply.read_ply(spark, str(p)).collect())
    assert got == [(4.5, 3), (5.5, 200)]


def test_ascii_vertex_after_element(spark, tmp_path):
    # ascii: the vertex block starts after the other element's lines
    p = tmp_path / "multi_ascii.ply"
    p.write_text(
        "ply\nformat ascii 1.0\n"
        "element camera 1\nproperty double cx\n"
        "element vertex 2\nproperty float x\nproperty uchar c\n"
        "end_header\n9.0\n4.5 3\n5.5 200\n"
    )
    got = sorted((r.x, r.c) for r in ply.read_ply(spark, str(p)).collect())
    assert got == [(4.5, 3), (5.5, 200)]


def test_binary_truncated_payload_raises(spark, tmp_path):
    header = (
        "ply\nformat binary_little_endian 1.0\n"
        "element vertex 5\nproperty float x\nend_header\n"
    ).encode("ascii")
    p = tmp_path / "trunc.ply"
    p.write_bytes(header + struct.pack("<f", 1.0))
    with pytest.raises(ValueError, match="truncated"):
        ply.read_ply(spark, str(p))


def test_binary_uint32_maps_to_bigint(spark, tmp_path):
    # u4 values above i32 range must survive via bigint, not wrap
    header = (
        "ply\nformat binary_little_endian 1.0\n"
        "element vertex 1\nproperty uint v\nend_header\n"
    ).encode("ascii")
    p = tmp_path / "u32.ply"
    p.write_bytes(header + struct.pack("<I", 3_000_000_000))
    back = ply.read_ply(spark, str(p))
    assert back.schema["v"].dataType.simpleString() == "bigint"
    assert back.collect()[0].v == 3_000_000_000


def test_binary_larger_file(spark, tmp_path):
    # a few thousand rows: frombuffer path, exact float32 fidelity
    n = 5000
    rng = np.random.default_rng(3)
    df = spark.createDataFrame(
        [(float(np.float32(v)), int(i)) for v, i in zip(rng.normal(size=n), rng.integers(0, 2**31, n))],
        "x float, k int",
    )
    p = str(tmp_path / "big.ply")
    ply.write_ply(df, p, binary=True)
    back = ply.read_ply(spark, p)
    assert back.count() == n
    assert sorted(r.x for r in back.collect()) == sorted(r.x for r in df.collect())


def test_ply_datasource_matches_driver_reader(spark, tmp_path):
    """spark.read.format('ply') decodes the same rows executor-side as the
    driver-side read_ply, across ascii AND binary, with slicing."""
    from agile_lakehouse_spark.sources import ply
    from agile_lakehouse_spark.sources.ply_datasource import PlyDataSource

    df = spark.range(1000).selectExpr(
        "CAST(id AS double) AS x",
        "CAST(id * 2 AS float) AS y",
        "CAST(id % 128 AS int) AS c",
    )
    for binary in (False, True):
        path = str(tmp_path / f"pts_{binary}.ply")
        ply.write_ply(df, path, binary=binary)
        spark.dataSource.register(PlyDataSource)
        back = (
            spark.read.format("ply").option("slice_rows", 300).load(path)
        )
        assert back.rdd.getNumPartitions() >= 3  # slicing engaged
        direct = ply.read_ply(spark, path)
        assert sorted(back.collect()) == sorted(direct.collect())
        assert back.count() == 1000


def test_ply_ascii_slice_streams_correct_rows(spark, tmp_path):
    """ascii read_vertex_slice skips rows with islice (no full-file read);
    slices tile the file exactly, including the ragged tail, and each is
    one Arrow batch of the header's types."""
    df = spark.range(100).selectExpr("CAST(id AS double) AS x", "CAST(id AS float) AS y")
    path = str(tmp_path / "a.ply")
    ply.write_ply(df, path)
    got = []
    for start in range(0, 100, 33):
        got += ply.read_vertex_slice(path, start, 33).to_pylist()
    assert got == [{"x": float(i), "y": float(i)} for i in range(100)]
    assert str(ply.read_vertex_slice(path, 0, 1).schema.field("y").type) == "float"
    # out-of-range slice is empty, not an error
    assert ply.read_vertex_slice(path, 100, 33).to_pylist() == []


def test_ply_datasource_empty_dir_raises_clear_error(spark, tmp_path):
    from agile_lakehouse_spark.sources.ply_datasource import PlyDataSource, PlyDataSourceReader

    empty = tmp_path / "none"
    empty.mkdir()
    with pytest.raises(ValueError, match="no .ply files"):
        PlyDataSourceReader({"path": str(empty)})._files()
    ds = PlyDataSource(options={"path": str(empty)})
    with pytest.raises(ValueError, match="no .ply files"):
        ds.schema()


def test_binary_max_rows_guard_refuses_driver_funnel(spark, tmp_path):
    """binary=True collects on the driver (single-file format); a frame
    over max_rows must refuse loudly instead of OOM-ing the driver."""
    df = spark.range(100).selectExpr("CAST(id AS DOUBLE) AS x")
    with pytest.raises(ValueError, match="max_rows"):
        ply.write_ply(df, str(tmp_path / "big.ply"), binary=True, max_rows=50)
    assert not (tmp_path / "big.ply").exists()
    p = str(tmp_path / "ok.ply")
    ply.write_ply(df, p, binary=True, max_rows=100)  # at the limit: fine
    assert ply.read_ply(spark, p).count() == 100
