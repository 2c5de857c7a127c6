"""Real uncompressed-LAS decode end-to-end (closes SURVEY §2 S1-S4).

A genuine ``.las`` byte stream — written by our own dependency-free
writer, parsed back by the same public-spec layout laspy implements — is
decoded through the executor path (``spark.read.format("las")``, one
Arrow batch per chunk), then checked for point count + AABB parity
against the header, the reference's own integration-test shape
(``pc-io/src/las/mod.rs:22-126``).
"""

import numpy as np
import pytest

from agile_lakehouse_spark.sources import las_native
from agile_lakehouse_spark.sources.las_datasource import LasDataSource, LasDataSourceReader


def _sample(n=1000, seed=7):
    rng = np.random.default_rng(seed)
    x = rng.uniform(-50.0, 120.0, n)
    y = rng.uniform(0.0, 80.0, n)
    z = rng.uniform(-5.0, 30.0, n)
    intensity = rng.integers(0, 65536, n)
    classification = rng.integers(0, 32, n)
    return x, y, z, intensity, classification


@pytest.mark.parametrize("point_format", [0, 1, 2, 3])
def test_round_trip_formats(tmp_path, point_format):
    x, y, z, inten, cls = _sample(500)
    gps = np.linspace(1e5, 2e5, 500)
    rgb = tuple(np.arange(500, dtype=np.uint16) * k % 65536 for k in (3, 5, 7))
    p = str(tmp_path / f"f{point_format}.las")
    hdr = las_native.write_las(
        p, x, y, z, intensity=inten, classification=cls,
        gps_time=gps, rgb=rgb, point_format=point_format,
    )
    assert hdr.point_format == point_format
    assert hdr.n_points == 500
    assert hdr.record_len == las_native.POINT_RECORD_LEN[point_format]
    cols = las_native.decode_points(p)
    # quantization error bounded by scale/2
    for got, want in ((cols["x"], x), (cols["y"], y), (cols["z"], z)):
        assert np.abs(got - want).max() <= 0.0005 + 1e-9
    assert (cols["intensity"] == inten).all()
    assert (cols["classification"] == (cls & 0x1F)).all()
    if point_format in (1, 3):
        assert (cols["gps_time"] == gps).all()
    if point_format in (2, 3):
        for c, v in zip(("red", "green", "blue"), rgb):
            assert (cols[c] == v).all()
    # header AABB == decoded AABB bit-for-bit (bounds from quantized grid)
    assert hdr.mins == (cols["x"].min(), cols["y"].min(), cols["z"].min())
    assert hdr.maxs == (cols["x"].max(), cols["y"].max(), cols["z"].max())


def test_las_14_extended_count(tmp_path):
    x, y, z, inten, cls = _sample(300)
    p = str(tmp_path / "v14.las")
    hdr = las_native.write_las(p, x, y, z, intensity=inten, classification=cls, version=(1, 4))
    assert hdr.version == (1, 4) and hdr.n_points == 300
    # legacy-count=0 fallback: force the 1.4 u64 path like a >4G-point file
    import struct

    with open(p, "r+b") as f:
        f.seek(107)
        f.write(struct.pack("<I", 0))
    assert las_native.read_header(p).n_points == 300
    assert len(las_native.decode_points(p)["x"]) == 300


def test_chunked_decode_matches_full(tmp_path):
    x, y, z, inten, cls = _sample(1000)
    p = str(tmp_path / "chunks.las")
    las_native.write_las(p, x, y, z, intensity=inten, classification=cls)
    full = las_native.decode_points(p)
    parts = [las_native.decode_points(p, offset=o, count=256) for o in range(0, 1000, 256)]
    stitched = np.concatenate([c["x"] for c in parts])
    assert (stitched == full["x"]).all()
    assert sum(len(c["z"]) for c in parts) == 1000


def test_raw_mode_grid_coordinates(tmp_path):
    x, y, z, *_ = _sample(100)
    p = str(tmp_path / "raw.las")
    hdr = las_native.write_las(p, x, y, z, scales=(0.01, 0.01, 0.01), offsets=(10.0, 0.0, -5.0))
    raw = las_native.decode_points(p, raw=True)
    real = las_native.decode_points(p)
    assert raw["x"].dtype == np.int32
    assert np.allclose(raw["x"] * 0.01 + 10.0, real["x"])
    assert hdr.scales == (0.01, 0.01, 0.01) and hdr.offsets == (10.0, 0.0, -5.0)


def test_bad_signature_and_laz_gate(tmp_path):
    p = tmp_path / "not.las"
    p.write_bytes(b"NOPE" + b"\x00" * 400)
    with pytest.raises(ValueError, match="signature"):
        las_native.read_header(str(p))
    # flip the compression bit: decode must refuse, not misparse
    x, y, z, *_ = _sample(10)
    q = str(tmp_path / "laz.las")
    las_native.write_las(q, x, y, z)
    with open(q, "r+b") as f:
        f.seek(104)
        f.write(bytes([0x80]))
    assert las_native.read_header(q).compressed
    with pytest.raises(NotImplementedError, match="LAZ"):
        las_native.decode_points(q)


def test_ingest_las_end_to_end(spark, tmp_path):
    """The S1-S4 chain on real bytes: header -> chunk plans -> executor
    decode -> DataFrame; count + AABB parity with the header."""
    from pyspark.sql import functions as F

    x, y, z, inten, cls = _sample(2000, seed=11)
    p = str(tmp_path / "cloud.las")
    hdr = las_native.write_las(p, x, y, z, intensity=inten, classification=cls)

    plans = LasDataSourceReader({"path": p, "chunk_points": "512"}).partitions()
    assert [c.count for c in plans] == [512, 512, 512, 464]
    spark.dataSource.register(LasDataSource)
    df = spark.read.format("las").option("chunk_points", 512).load(p)
    assert df.rdd.getNumPartitions() == 4
    row = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.min("x").alias("minx"), F.max("x").alias("maxx"),
        F.min("y").alias("miny"), F.max("y").alias("maxy"),
        F.min("z").alias("minz"), F.max("z").alias("maxz"),
    ).collect()[0]
    assert row.n == hdr.n_points == 2000
    assert (row.minx, row.miny, row.minz) == hdr.mins
    assert (row.maxx, row.maxy, row.maxz) == hdr.maxs


def test_las_datasource_real_file(spark, tmp_path):
    """spark.read.format('las') over a real .las file: chunked partitions,
    native executor decode, value parity with the local decode."""
    x, y, z, inten, cls = _sample(900, seed=13)
    p = str(tmp_path / "ds.las")
    hdr = las_native.write_las(p, x, y, z, intensity=inten, classification=cls)

    reader = LasDataSourceReader({"path": p, "chunk_points": "400"})
    assert [(q.offset, q.count) for q in reader.partitions()] == [(0, 400), (400, 400), (800, 100)]

    spark.dataSource.register(LasDataSource)
    df = spark.read.format("las").option("chunk_points", "400").load(p)
    got = sorted((r.x, r.intensity, r.classification) for r in df.collect())
    local = las_native.decode_points(p)
    want = sorted(zip(map(float, local["x"]), map(int, local["intensity"]), map(int, local["classification"])))
    assert df.count() == hdr.n_points
    assert got == want


def test_las_datasource_empty_dir_raises_clear_error(tmp_path):
    """A directory without a .las/.laz file is a clear error at planning,
    not an IndexError."""
    empty = tmp_path / "none"
    empty.mkdir()
    (empty / "notes.txt").write_text("no points here")
    with pytest.raises(ValueError, match="no .las/.laz files"):
        LasDataSourceReader({"path": str(empty)}).partitions()


def test_ingest_las_raw_mode(spark, tmp_path):
    """Reference --raw mode through the executor path (the ``raw``
    option): integer grid coordinates survive ingest and reconstruct the
    real coordinates."""
    from pyspark.sql import functions as F

    x, y, z, inten, cls = _sample(600, seed=17)
    p = str(tmp_path / "rawmode.las")
    las_native.write_las(p, x, y, z, intensity=inten, classification=cls,
                         scales=(0.01, 0.01, 0.01), offsets=(100.0, -40.0, 0.0))
    spark.dataSource.register(LasDataSource)
    raw_df = spark.read.format("las").option("chunk_points", 200).option("raw", True).load(p)
    real_df = spark.read.format("las").option("chunk_points", 200).load(p)
    recon = raw_df.select(
        (F.col("x") * 0.01 + 100.0).alias("x"),
        (F.col("y") * 0.01 - 40.0).alias("y"),
        (F.col("z") * 0.01).alias("z"),
    )
    a = sorted((round(r.x, 6), round(r.y, 6), round(r.z, 6)) for r in recon.collect())
    b = sorted((round(r.x, 6), round(r.y, 6), round(r.z, 6)) for r in real_df.collect())
    assert a == b


# --- LAS 1.4 point formats 6-10 (round 4) -----------------------------------


@pytest.mark.parametrize("point_format", [6, 7, 8, 9, 10])
def test_round_trip_modern_formats(tmp_path, point_format):
    x, y, z, inten, _ = _sample(400)
    cls = np.arange(400) % 256  # formats 6+ carry the FULL classification byte
    gps = np.linspace(3e5, 4e5, 400)
    rgb = tuple(np.arange(400, dtype=np.uint16) * k % 65536 for k in (3, 5, 7))
    nir = (np.arange(400, dtype=np.uint16) * 11) % 65536
    p = str(tmp_path / f"f{point_format}.las")
    hdr = las_native.write_las(
        p, x, y, z, intensity=inten, classification=cls, gps_time=gps,
        rgb=rgb, nir=nir if point_format in (8, 10) else None,
        point_format=point_format,
    )
    assert hdr.point_format == point_format
    assert hdr.version == (1, 4)  # spec ties 6-10 to LAS 1.4
    assert hdr.record_len == las_native.POINT_RECORD_LEN[point_format]
    cols = las_native.decode_points(p)
    for got, want in ((cols["x"], x), (cols["y"], y), (cols["z"], z)):
        assert np.abs(got - want).max() <= 0.0005 + 1e-9
    assert (cols["intensity"] == inten).all()
    assert (cols["classification"] == cls).all()  # full byte, not &0x1F
    assert (cols["return_number"] == 1).all()
    assert (cols["gps_time"] == gps).all()  # always present in 6-10
    if point_format in (7, 8, 10):
        for c, v in zip(("red", "green", "blue"), rgb):
            assert (cols[c] == v).all()
    if point_format in (8, 10):
        assert (cols["nir"] == nir).all()
    assert hdr.mins == (cols["x"].min(), cols["y"].min(), cols["z"].min())
    assert hdr.maxs == (cols["x"].max(), cols["y"].max(), cols["z"].max())


def test_modern_format_rejects_misplaced_nir(tmp_path):
    x, y, z, _, _ = _sample(10)
    with pytest.raises(ValueError, match="NIR"):
        las_native.write_las(
            str(tmp_path / "bad.las"), x, y, z,
            nir=np.zeros(10, dtype=np.uint16), point_format=7,
        )


def test_modern_format_datasource_scan(tmp_path, spark):
    """A format-7 (RGB + gps) LAS 1.4 file scans through
    spark.read.format('las') with the same fixed core schema."""
    x, y, z, inten, cls = _sample(800)
    p = str(tmp_path / "modern.las")
    las_native.write_las(
        p, x, y, z, intensity=inten, classification=(cls % 256),
        gps_time=np.linspace(0, 1, 800),
        rgb=(np.zeros(800, np.uint16),) * 3, point_format=7,
    )
    spark.dataSource.register(LasDataSource)
    df = spark.read.format("las").load(str(tmp_path))
    assert df.count() == 800
    hdr = las_native.read_header(p)
    got = df.agg({"x": "min"}).collect()[0][0]
    assert abs(got - hdr.mins[0]) < 1e-9


def test_modern_format_legacy_fields_zero(tmp_path):
    """LAS 1.4 spec: for point formats 6-10 the legacy point-count and
    legacy by-return header fields MUST be 0 (u64 1.4 fields carry the
    truth) — strict validators reject or double-count otherwise."""
    import struct

    x, y, z, inten, cls = _sample(100)
    p = str(tmp_path / "legacy0.las")
    las_native.write_las(p, x, y, z, point_format=6)
    with open(p, "rb") as f:
        raw = f.read(400)
    assert struct.unpack_from("<I", raw, 107)[0] == 0  # legacy count
    assert struct.unpack_from("<I", raw, 111)[0] == 0  # legacy by-return[0]
    assert struct.unpack_from("<Q", raw, 247)[0] == 100  # 1.4 u64 count
    hdr = las_native.read_header(p)
    assert hdr.n_points == 100
    assert len(las_native.decode_points(p)["x"]) == 100
    # legacy formats keep the legacy count for pre-1.4 readers
    p2 = str(tmp_path / "legacy_f1.las")
    las_native.write_las(p2, x, y, z, point_format=1, version=(1, 4))
    with open(p2, "rb") as f:
        raw2 = f.read(400)
    assert struct.unpack_from("<I", raw2, 107)[0] == 100
