"""Dependency-free LAS reader/writer: uncompressed point formats 0-3 and 6-10.

The reference's entire ingest front door is LAS (``pc-io/src/las/source.rs:
49-138``, ``builder.rs:49-188``); this module makes that path REAL in this
engine without laspy.  The LAS format is a public ASPRS spec: a fixed-width
little-endian public header block followed by fixed-width point records, so
uncompressed formats decode with one ``numpy.frombuffer`` per chunk — fully
vectorized, no per-point Python.  LAZ (compressed) files decode in
``laz_native.py`` (vendored LASzip codec, point formats 0-3); the
``las`` DataSource picks the decoder per file.

Layout (LAS 1.2 header = 227 bytes, 1.3 = 235, 1.4 = 375):

======  ====  =====================================
offset  size  field
======  ====  =====================================
0       4     "LASF" signature
24/25   1+1   version major/minor
94      2     header size
96      4     offset to point data
100     4     number of VLRs
104     1     point data record format (bit 7 set => LAZ)
105     2     point data record length
107     4     legacy point count (0 in large 1.4 files)
131     24    x/y/z scale factors (f64)
155     24    x/y/z offsets (f64)
179     48    max_x min_x max_y min_y max_z min_z (f64)
247     8     1.4 extended point count (u64)
======  ====  =====================================

Point record formats (core 20 bytes, then optional blocks):

- 0: X,Y,Z i32 · intensity u16 · return-flags u8 · classification u8 ·
     scan-angle i8 · user-data u8 · point-source-id u16   (20 B)
- 1: 0 + gps_time f64                                     (28 B)
- 2: 0 + red,green,blue u16                               (26 B)
- 3: 1 + red,green,blue u16                               (34 B)
- 6: LAS-1.4 core: X,Y,Z i32 · intensity u16 · returns u8 · flags u8 ·
     classification u8 (FULL byte) · user-data u8 · scan-angle i16 ·
     point-source-id u16 · gps_time f64                   (30 B)
- 7: 6 + red,green,blue u16                               (36 B)
- 8: 7 + nir u16                                          (38 B)
- 9: 6 + waveform packet (29 B)                           (59 B)
- 10: 8 + waveform packet                                 (67 B)

Real coordinates are ``X * scale + offset`` per axis; ``raw`` mode keeps
the integer grid coordinates (reference ``--raw``, ``pc-io/src/las/
schema.rs:11-53``).  Legacy classification is the low 5 bits of the
classification byte (high bits are synthetic/keypoint/withheld flags) —
same field laspy exposes as ``.classification``.
"""

from __future__ import annotations

import struct
from dataclasses import dataclass

import numpy as np

_CORE_FIELDS = [
    ("X", "<i4"),
    ("Y", "<i4"),
    ("Z", "<i4"),
    ("intensity", "<u2"),
    ("flags", "u1"),
    ("classification_byte", "u1"),
    ("scan_angle", "i1"),
    ("user_data", "u1"),
    ("point_source_id", "<u2"),
]
_GPS = [("gps_time", "<f8")]
_RGB = [("red", "<u2"), ("green", "<u2"), ("blue", "<u2")]

# LAS 1.4 formats 6-10 (the modern PDRFs): 30-byte core — i16 scan
# angle (0.006 deg units), FULL-byte classification, split returns/flags
# bytes (returns: return# bits 0-3, count bits 4-7; flags: class-flags
# 0-3, scanner channel 4-5, scan direction 6, edge 7), gps_time ALWAYS
# present; then RGB (7/8/10), NIR (8/10), waveform packet (9/10).
_CORE6_FIELDS = [
    ("X", "<i4"),
    ("Y", "<i4"),
    ("Z", "<i4"),
    ("intensity", "<u2"),
    ("returns_byte", "u1"),
    ("flags6", "u1"),
    ("classification_full", "u1"),
    ("user_data", "u1"),
    ("scan_angle16", "<i2"),
    ("point_source_id", "<u2"),
    ("gps_time", "<f8"),
]
_NIR = [("nir", "<u2")]
_WAVE = [
    ("wave_desc", "u1"),
    ("wave_offset", "<u8"),
    ("wave_size", "<u4"),
    ("wave_return_loc", "<f4"),
    ("wave_xt", "<f4"),
    ("wave_yt", "<f4"),
    ("wave_zt", "<f4"),
]

POINT_FIELDS: dict[int, list[tuple[str, str]]] = {
    0: _CORE_FIELDS,
    1: _CORE_FIELDS + _GPS,
    2: _CORE_FIELDS + _RGB,
    3: _CORE_FIELDS + _GPS + _RGB,
    6: _CORE6_FIELDS,
    7: _CORE6_FIELDS + _RGB,
    8: _CORE6_FIELDS + _RGB + _NIR,
    9: _CORE6_FIELDS + _WAVE,
    10: _CORE6_FIELDS + _RGB + _NIR + _WAVE,
}
POINT_RECORD_LEN = {0: 20, 1: 28, 2: 26, 3: 34, 6: 30, 7: 36, 8: 38, 9: 59, 10: 67}
HEADER_SIZE = {(1, 2): 227, (1, 3): 235, (1, 4): 375}


@dataclass(frozen=True)
class LasHeader:
    version: tuple[int, int]
    point_format: int
    record_len: int
    n_points: int
    offset_to_points: int
    scales: tuple[float, float, float]
    offsets: tuple[float, float, float]
    mins: tuple[float, float, float]
    maxs: tuple[float, float, float]
    compressed: bool


def read_header(path: str) -> LasHeader:
    """Parse the public header block — metadata-only, no point bytes read."""
    with open(path, "rb") as f:
        hdr = f.read(375)
    if hdr[:4] != b"LASF":
        raise ValueError(f"not a LAS file (bad signature): {path}")
    major, minor = hdr[24], hdr[25]
    offset_to_points = struct.unpack_from("<I", hdr, 96)[0]
    fmt_byte = hdr[104]
    compressed = bool(fmt_byte & 0x80)  # LAZ convention: high bit(s) set
    point_format = fmt_byte & 0x3F
    record_len = struct.unpack_from("<H", hdr, 105)[0]
    n_points = struct.unpack_from("<I", hdr, 107)[0]
    if n_points == 0 and (major, minor) >= (1, 4) and len(hdr) >= 255:
        n_points = struct.unpack_from("<Q", hdr, 247)[0]
    sx, sy, sz, ox, oy, oz = struct.unpack_from("<6d", hdr, 131)
    max_x, min_x, max_y, min_y, max_z, min_z = struct.unpack_from("<6d", hdr, 179)
    return LasHeader(
        version=(major, minor),
        point_format=point_format,
        record_len=record_len,
        n_points=n_points,
        offset_to_points=offset_to_points,
        scales=(sx, sy, sz),
        offsets=(ox, oy, oz),
        mins=(min_x, min_y, min_z),
        maxs=(max_x, max_y, max_z),
        compressed=compressed,
    )


def _point_dtype(point_format: int, record_len: int) -> np.dtype:
    if point_format not in POINT_FIELDS:
        raise NotImplementedError(
            f"LAS point format {point_format} (native decode covers 0-3 and 6-10; "
            "4/5 are legacy waveform variants — use laspy)"
        )
    fields = list(POINT_FIELDS[point_format])
    base = POINT_RECORD_LEN[point_format]
    if record_len < base:
        raise ValueError(f"record length {record_len} < format {point_format} minimum {base}")
    if record_len > base:  # extra bytes (spec allows) — skip as void padding
        fields.append(("_extra", f"V{record_len - base}"))
    return np.dtype(fields)


def decode_points(
    path: str,
    header: LasHeader | None = None,
    offset: int = 0,
    count: int | None = None,
    raw: bool = False,
) -> dict[str, np.ndarray]:
    """Decode ``count`` points starting at point index ``offset``.

    One seek + one read + one ``frombuffer`` — the whole chunk decodes as
    numpy column vectors (this runs INSIDE executor tasks; keep it free of
    Spark imports).  Returns a dict of column arrays: x/y/z (f64, or i32
    grid when ``raw``), intensity, classification (low-5-bits),
    return_number, and gps_time / red/green/blue when the format has them.
    """
    h = header or read_header(path)
    if h.compressed:
        raise NotImplementedError("LAZ (compressed) file: decode it with laz_native or the las DataSource")
    dt = _point_dtype(h.point_format, h.record_len)
    if count is None:
        count = h.n_points - offset
    count = max(0, min(count, h.n_points - offset))
    with open(path, "rb") as f:
        f.seek(h.offset_to_points + offset * h.record_len)
        buf = f.read(count * h.record_len)
    if len(buf) < count * h.record_len:
        raise ValueError(
            f"truncated LAS point data: wanted {count} records at {offset}, "
            f"got {len(buf) // h.record_len}"
        )
    rec = np.frombuffer(buf, dtype=dt, count=count)
    out: dict[str, np.ndarray] = {}
    if raw:
        out["x"], out["y"], out["z"] = rec["X"], rec["Y"], rec["Z"]
    else:
        out["x"] = rec["X"] * h.scales[0] + h.offsets[0]
        out["y"] = rec["Y"] * h.scales[1] + h.offsets[1]
        out["z"] = rec["Z"] * h.scales[2] + h.offsets[2]
    out["intensity"] = rec["intensity"].astype(np.int64)
    if "classification_full" in dt.names:  # formats 6-10: full byte, split returns
        out["classification"] = rec["classification_full"].astype(np.int64)
        out["return_number"] = (rec["returns_byte"] & 0x0F).astype(np.int64)
    else:  # formats 0-3: low 5 bits, packed return bits
        out["classification"] = (rec["classification_byte"] & 0x1F).astype(np.int64)
        out["return_number"] = (rec["flags"] & 0x07).astype(np.int64)
    if "gps_time" in dt.names:
        out["gps_time"] = rec["gps_time"]
    if "red" in dt.names:
        for c in ("red", "green", "blue"):
            out[c] = rec[c].astype(np.int64)
    if "nir" in dt.names:
        out["nir"] = rec["nir"].astype(np.int64)
    return out


def write_las(
    path: str,
    x: np.ndarray,
    y: np.ndarray,
    z: np.ndarray,
    intensity: np.ndarray | None = None,
    classification: np.ndarray | None = None,
    gps_time: np.ndarray | None = None,
    rgb: tuple[np.ndarray, np.ndarray, np.ndarray] | None = None,
    nir: np.ndarray | None = None,
    point_format: int = 0,
    scales: tuple[float, float, float] = (0.001, 0.001, 0.001),
    offsets: tuple[float, float, float] = (0.0, 0.0, 0.0),
    version: tuple[int, int] = (1, 2),
) -> LasHeader:
    """Write an uncompressed LAS file (formats 0-3 and 6-10, versions
    1.2/1.3/1.4; formats 6-10 force 1.4 per the spec).

    The LAS *sink* counterpart of :func:`decode_points` — quantizes real
    coordinates to the integer grid (``round((v - offset) / scale)``),
    packs fixed-width records, and stamps exact header bounds re-derived
    FROM the quantized grid (so header AABB == decoded AABB bit-for-bit,
    the parity the reference's integration tests assert,
    ``pc-io/src/las/mod.rs:22-126``).

    For 1.4 the legacy count is written only when it fits u32, mirroring
    large-file convention (readers must fall back to the u64 field).
    """
    if point_format >= 6 and version < (1, 4):
        version = (1, 4)  # the spec ties formats 6-10 to LAS 1.4
    if version not in HEADER_SIZE:
        raise ValueError(f"unsupported LAS version {version}")
    if point_format not in POINT_FIELDS:
        raise ValueError(f"unsupported point format {point_format}")
    n = len(x)
    if not (len(y) == len(z) == n):
        raise ValueError("x/y/z length mismatch")
    record_len = POINT_RECORD_LEN[point_format]
    header_size = HEADER_SIZE[version]

    rec = np.zeros(n, dtype=_point_dtype(point_format, record_len))
    grid = []
    for vals, scale, off, name in zip((x, y, z), scales, offsets, "XYZ"):
        g = np.round((np.asarray(vals, dtype=np.float64) - off) / scale)
        if n and (g.min() < -(2**31) or g.max() > 2**31 - 1):
            raise ValueError(f"{name} grid coordinates overflow i32; widen scale/offset")
        rec[name] = g.astype(np.int32)
        grid.append(g)
    rec["intensity"] = 0 if intensity is None else np.asarray(intensity, dtype=np.uint16)
    if point_format >= 6:
        if classification is not None:
            rec["classification_full"] = np.asarray(classification, dtype=np.uint8)
        rec["returns_byte"] = 0x11  # return number 1 of 1 (split nibbles)
        if nir is not None:
            if "nir" not in rec.dtype.names:
                raise ValueError(f"format {point_format} has no NIR channel")
            rec["nir"] = np.asarray(nir, dtype=np.uint16)
    else:
        if nir is not None:
            raise ValueError("NIR needs point format 8 or 10")
        if classification is not None:
            rec["classification_byte"] = np.asarray(classification, dtype=np.uint8) & 0x1F
        rec["flags"] = 1  # return number 1 of 1
    if "gps_time" in rec.dtype.names and gps_time is not None:
        rec["gps_time"] = np.asarray(gps_time, dtype=np.float64)
    if "red" in rec.dtype.names and rgb is not None:
        for c, v in zip(("red", "green", "blue"), rgb):
            rec[c] = np.asarray(v, dtype=np.uint16)

    hdr = bytearray(header_size)
    hdr[0:4] = b"LASF"
    hdr[24], hdr[25] = version
    struct.pack_into("<H", hdr, 94, header_size)
    struct.pack_into("<I", hdr, 96, header_size)  # points right after header (0 VLRs)
    struct.pack_into("<I", hdr, 100, 0)
    hdr[104] = point_format
    struct.pack_into("<H", hdr, 105, record_len)
    # LAS 1.4 spec: for point formats 6-10 the legacy point-count and
    # legacy by-return fields MUST be zero (readers use the u64 1.4
    # fields); strict validators reject or double-count otherwise
    legacy = 0 if point_format >= 6 else (n if (version < (1, 4) or n < 2**32) else 0)
    struct.pack_into("<I", hdr, 107, legacy)
    struct.pack_into("<I", hdr, 111, legacy)  # by-return[0]
    struct.pack_into("<6d", hdr, 131, *scales, *offsets)
    # exact bounds from the quantized grid (what a reader will decode)
    real = [g * s + o for g, s, o in zip(grid, scales, offsets)]
    if n:
        bounds = (
            real[0].max(), real[0].min(),
            real[1].max(), real[1].min(),
            real[2].max(), real[2].min(),
        )
    else:
        bounds = (0.0,) * 6
    struct.pack_into("<6d", hdr, 179, *bounds)
    if version >= (1, 4):
        struct.pack_into("<Q", hdr, 247, n)
        struct.pack_into("<Q", hdr, 255, n)  # by-return[0], u64

    with open(path, "wb") as f:
        f.write(hdr)
        f.write(rec.tobytes())
    return read_header(path)
