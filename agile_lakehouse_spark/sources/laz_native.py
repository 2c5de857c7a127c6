"""Native LAZ (LASzip) codec — dependency-free compressed-LAS read/write.

Implements the LASzip stream layout from its public specification
("LASzip: lossless compression of LiDAR data", Isenburg 2013, and the
open LASzip format description): chunked pointwise compression
(compressor 2), the FastAC arithmetic coding layer (``laz_ac.py``), and
the version-2 record predictors for POINT10 (x, y, z, intensity, return
byte, classification, scan angle, user data, point source id),
GPSTIME11 (multi-sequence delta-multiplier coder) and RGB12 (per-byte
delta coder) — covering LAS point formats 0-3.  Exotic variants
(formats 4+, the layered compressor 3, extra-bytes items) stay gated on
laspy.

Reference parity: the LAZ chunk table this module reads/writes is the
structure the reference turns into parallel read units
(``pc-io/src/las/source.rs:159-208``) — with this codec the engine's
``.laz`` chunk planning runs on REAL chunk boundaries instead of
synthesized fixed offsets, and each Spark task decodes exactly one
chunk.

Verification honesty: no LAZ-capable third-party library exists in this
container, so in-repo tests prove ROUND-TRIP exactness (encode->decode
identity over adversarial clouds, chunk-boundary cases, and the chunk
table), plus spec-conformance of every header/VLR field; cross-decoder
conformance (laspy) runs via the gated ``tests/test_laz_gated.py``
pattern in any environment that has one.

Layout of a LAZ file (spec §2):
  LAS public header (point_data_format |= 0x80)
  LASzip VLR (user "laszip encoded", record 22204): compressor=2,
    coder=0 (arithmetic), version 2.2, chunk_size, item list
  at offset_to_point_data: i64 chunk_table_offset
  chunks, back to back; each chunk = first point RAW + arithmetic stream
  chunk table: u32 version=0, u32 n_chunks, then an arithmetic stream of
    IntegerCompressor(32, 2)-coded chunk byte sizes (predicted by the
    previous size)
"""

from __future__ import annotations

import struct
from dataclasses import dataclass

import numpy as np

from agile_lakehouse_spark.sources.laz_ac import (
    ArithmeticDecoder,
    ArithmeticEncoder,
    ArithmeticModel,
    IntegerCompressor,
)

DEFAULT_CHUNK_SIZE = 50_000  # LASzip default points per chunk

LASZIP_USER_ID = b"laszip encoded\x00\x00"
LASZIP_RECORD_ID = 22204
POINT10_ITEM = 6  # item type ids from the LASzip spec
POINT10_SIZE = 20
GPSTIME11_ITEM = 7
GPSTIME11_SIZE = 8
RGB12_ITEM = 8
RGB12_SIZE = 6

# LAS point format -> ordered LASzip item list (spec §2: items compress
# in record order, sharing ONE arithmetic stream per chunk)
FORMAT_ITEMS: dict[int, list[tuple[int, int]]] = {
    0: [(POINT10_ITEM, POINT10_SIZE)],
    1: [(POINT10_ITEM, POINT10_SIZE), (GPSTIME11_ITEM, GPSTIME11_SIZE)],
    2: [(POINT10_ITEM, POINT10_SIZE), (RGB12_ITEM, RGB12_SIZE)],
    3: [(POINT10_ITEM, POINT10_SIZE), (GPSTIME11_ITEM, GPSTIME11_SIZE),
        (RGB12_ITEM, RGB12_SIZE)],
}

# LASzip point10 v2 context tables (spec appendix; symmetric by design):
# map (number of returns, return number) -> a context slot m in [0, 15]
# and an elevation-level slot l in [0, 7]
NUMBER_RETURN_MAP = [
    [15, 14, 13, 12, 11, 10, 9, 8],
    [14, 0, 1, 3, 6, 10, 10, 9],
    [13, 1, 2, 4, 7, 11, 11, 10],
    [12, 3, 4, 5, 8, 12, 12, 11],
    [11, 6, 7, 8, 9, 13, 13, 12],
    [10, 10, 11, 12, 13, 14, 14, 13],
    [9, 10, 11, 12, 13, 14, 15, 14],
    [8, 9, 10, 11, 12, 13, 14, 15],
]
NUMBER_RETURN_LEVEL = [
    [0, 1, 2, 3, 4, 5, 6, 7],
    [1, 0, 1, 2, 3, 4, 5, 6],
    [2, 1, 0, 1, 2, 3, 4, 5],
    [3, 2, 1, 0, 1, 2, 3, 4],
    [4, 3, 2, 1, 0, 1, 2, 3],
    [5, 4, 3, 2, 1, 0, 1, 2],
    [6, 5, 4, 3, 2, 1, 0, 1],
    [7, 6, 5, 4, 3, 2, 1, 0],
]


class StreamingMedian5:
    """LASzip's streaming median of the last 5 values (the X/Y delta
    predictor).  Maintains a sorted window with alternating eviction —
    reproduced from the spec's reference behavior."""

    __slots__ = ("values", "high")

    def __init__(self):
        self.values = [0, 0, 0, 0, 0]
        self.high = True

    def add(self, v: int) -> None:
        values = self.values
        if self.high:
            if v < values[2]:
                values[4] = values[3]
                values[3] = values[2]
                if v < values[0]:
                    values[2] = values[1]
                    values[1] = values[0]
                    values[0] = v
                elif v < values[1]:
                    values[2] = values[1]
                    values[1] = v
                else:
                    values[2] = v
            else:
                if v < values[3]:
                    values[4] = values[3]
                    values[3] = v
                else:
                    values[4] = v
                self.high = False
        else:
            if values[2] < v:
                values[0] = values[1]
                values[1] = values[2]
                if values[4] < v:
                    values[2] = values[3]
                    values[3] = values[4]
                    values[4] = v
                elif values[3] < v:
                    values[2] = values[3]
                    values[3] = v
                else:
                    values[2] = v
            else:
                if values[1] < v:
                    values[0] = values[1]
                    values[1] = v
                else:
                    values[0] = v
                self.high = True

    def get(self) -> int:
        return self.values[2]


def _u8_fold(x: int) -> int:
    return x & 0xFF


@dataclass
class Point10:
    """One LAS point-format-0 record (raw integer grid coordinates)."""

    x: int
    y: int
    z: int
    intensity: int
    return_byte: int  # ret num (3b) | num returns (3b) | scan dir (1b) | edge (1b)
    classification: int
    scan_angle_rank: int  # signed i8, stored folded
    user_data: int
    point_source_id: int

    def pack(self) -> bytes:
        return struct.pack(
            "<iiiHBBbBH",
            self.x,
            self.y,
            self.z,
            self.intensity,
            self.return_byte,
            self.classification,
            self.scan_angle_rank,
            self.user_data,
            self.point_source_id,
        )

    @classmethod
    def unpack(cls, data: bytes, off: int = 0) -> "Point10":
        vals = struct.unpack_from("<iiiHBBbBH", data, off)
        return cls(*vals)


class _Point10V2Model:
    """Shared model state for one chunk of POINT10 v2 (reset per chunk)."""

    def __init__(self):
        self.m_changed_values = ArithmeticModel(64)
        self.ic_intensity = IntegerCompressor(16, 4)
        self.m_scan_angle_rank = [ArithmeticModel(256), ArithmeticModel(256)]
        self.ic_point_source_id = IntegerCompressor(16)
        self.m_bit_byte = [None] * 256
        self.m_classification = [None] * 256
        self.m_user_data = [None] * 256
        self.ic_dx = IntegerCompressor(32, 2)
        self.ic_dy = IntegerCompressor(32, 22)
        self.ic_z = IntegerCompressor(32, 20)
        self.last_x_diff_median5 = [StreamingMedian5() for _ in range(16)]
        self.last_y_diff_median5 = [StreamingMedian5() for _ in range(16)]
        self.last_intensity = [0] * 16
        self.last_height = [0] * 8

    def lazy(self, table: list, idx: int) -> ArithmeticModel:
        m = table[idx]
        if m is None:
            m = table[idx] = ArithmeticModel(256)
        return m


def _zero_bit_0(n: int) -> int:
    return n & 0xFFFF_FFFE


class Point10V2Compressor:
    """Pointwise POINT10 v2 predictor (LASzip spec §4): delta-coded X/Y
    with streaming-median prediction contexted by the return-number map,
    last-height Z per return level, and change-flag gated attributes."""

    def __init__(self, enc: ArithmeticEncoder, first: Point10):
        self.enc = enc
        self.m = _Point10V2Model()
        self.last = Point10(**vars(first))

    def compress(self, cur: Point10) -> None:
        enc, m, last = self.enc, self.m, self.last
        r = cur.return_byte
        n = (r >> 3) & 7
        rn = r & 7
        ctx_m = NUMBER_RETURN_MAP[n][rn]
        ctx_l = NUMBER_RETURN_LEVEL[n][rn]

        changed = (
            ((last.return_byte != r) << 5)
            | ((m.last_intensity[ctx_m] != cur.intensity) << 4)
            | ((last.classification != cur.classification) << 3)
            | ((last.scan_angle_rank != cur.scan_angle_rank) << 2)
            | ((last.user_data != cur.user_data) << 1)
            | (last.point_source_id != cur.point_source_id)
        )
        enc.encode_symbol(m.m_changed_values, changed)
        if changed & 32:
            enc.encode_symbol(m.lazy(m.m_bit_byte, last.return_byte), r)
            # context slots recomputed from the NEW return byte
            n = (r >> 3) & 7
            rn = r & 7
            ctx_m = NUMBER_RETURN_MAP[n][rn]
            ctx_l = NUMBER_RETURN_LEVEL[n][rn]
        if changed & 16:
            m.ic_intensity.compress(
                enc, m.last_intensity[ctx_m], cur.intensity, min(ctx_m, 3)
            )
            m.last_intensity[ctx_m] = cur.intensity
        if changed & 8:
            enc.encode_symbol(
                m.lazy(m.m_classification, last.classification), cur.classification
            )
        if changed & 4:
            enc.encode_symbol(
                m.m_scan_angle_rank[(r >> 6) & 1],
                _u8_fold(cur.scan_angle_rank - last.scan_angle_rank),
            )
        if changed & 2:
            enc.encode_symbol(m.lazy(m.m_user_data, last.user_data), cur.user_data)
        if changed & 1:
            m.ic_point_source_id.compress(enc, last.point_source_id, cur.point_source_id)

        # X: median-predicted delta, context single-return vs multi
        med_x = m.last_x_diff_median5[ctx_m]
        dx = cur.x - last.x
        m.ic_dx.compress(enc, med_x.get(), dx, 1 if n == 1 else 0)
        med_x.add(dx)
        kx = m.ic_dx.k
        # Y: same, contexted additionally by the X corrector's bit count
        med_y = m.last_y_diff_median5[ctx_m]
        dy = cur.y - last.y
        ctx_y = (1 if n == 1 else 0) + (_zero_bit_0(kx) if kx < 20 else 20)
        m.ic_dy.compress(enc, med_y.get(), dy, ctx_y)
        med_y.add(dy)
        # Z: last height per return level, contexted by mean XY bit count
        kxy = (kx + m.ic_dy.k) // 2
        ctx_z = (1 if n == 1 else 0) + (_zero_bit_0(kxy) if kxy < 18 else 18)
        m.ic_z.compress(enc, m.last_height[ctx_l], cur.z, ctx_z)
        m.last_height[ctx_l] = cur.z

        self.last = Point10(**vars(cur))


class Point10V2Decompressor:
    def __init__(self, dec: ArithmeticDecoder, first: Point10):
        self.dec = dec
        self.m = _Point10V2Model()
        self.last = Point10(**vars(first))

    def decompress(self) -> Point10:
        dec, m, last = self.dec, self.m, self.last
        changed = dec.decode_symbol(m.m_changed_values)
        r = last.return_byte
        if changed & 32:
            r = dec.decode_symbol(m.lazy(m.m_bit_byte, last.return_byte))
        n = (r >> 3) & 7
        rn = r & 7
        ctx_m = NUMBER_RETURN_MAP[n][rn]
        ctx_l = NUMBER_RETURN_LEVEL[n][rn]

        intensity = last.intensity
        if changed & 16:
            intensity = m.ic_intensity.decompress(
                dec, m.last_intensity[ctx_m], min(ctx_m, 3)
            )
            m.last_intensity[ctx_m] = intensity
        else:
            intensity = m.last_intensity[ctx_m]
        classification = last.classification
        if changed & 8:
            classification = dec.decode_symbol(
                m.lazy(m.m_classification, last.classification)
            )
        scan_angle = last.scan_angle_rank
        if changed & 4:
            sym = dec.decode_symbol(m.m_scan_angle_rank[(r >> 6) & 1])
            folded = _u8_fold(sym + (last.scan_angle_rank & 0xFF))
            scan_angle = folded - 256 if folded >= 128 else folded
        user_data = last.user_data
        if changed & 2:
            user_data = dec.decode_symbol(m.lazy(m.m_user_data, last.user_data))
        point_source = last.point_source_id
        if changed & 1:
            point_source = m.ic_point_source_id.decompress(dec, last.point_source_id)

        med_x = m.last_x_diff_median5[ctx_m]
        dx = m.ic_dx.decompress(dec, med_x.get(), 1 if n == 1 else 0)
        x = last.x + dx
        x = ((x + 0x8000_0000) & 0xFFFF_FFFF) - 0x8000_0000
        med_x.add(dx)
        kx = m.ic_dx.k
        med_y = m.last_y_diff_median5[ctx_m]
        ctx_y = (1 if n == 1 else 0) + (_zero_bit_0(kx) if kx < 20 else 20)
        dy = m.ic_dy.decompress(dec, med_y.get(), ctx_y)
        y = last.y + dy
        y = ((y + 0x8000_0000) & 0xFFFF_FFFF) - 0x8000_0000
        med_y.add(dy)
        kxy = (kx + m.ic_dy.k) // 2
        ctx_z = (1 if n == 1 else 0) + (_zero_bit_0(kxy) if kxy < 18 else 18)
        z = m.ic_z.decompress(dec, m.last_height[ctx_l], ctx_z)
        m.last_height[ctx_l] = z

        cur = Point10(x, y, z, intensity, r, classification, scan_angle, user_data, point_source)
        self.last = Point10(**vars(cur))
        return cur


# --- GPSTIME11 version 2 (point formats 1 and 3) ---------------------------

# spec constants: positive multipliers code directly (2..499), the likely
# cases (unchanged / x1 / small negatives) get dedicated symbols, and two
# escape codes handle 64-bit jumps and switches between up to 4 interleaved
# time sequences (multi-scanner returns)
GPSTIME_MULTI = 500
GPSTIME_MULTI_MINUS = -10
GPSTIME_MULTI_UNCHANGED = GPSTIME_MULTI - GPSTIME_MULTI_MINUS + 1  # 511
GPSTIME_MULTI_CODE_FULL = GPSTIME_MULTI - GPSTIME_MULTI_MINUS + 2  # 512
GPSTIME_MULTI_TOTAL = GPSTIME_MULTI - GPSTIME_MULTI_MINUS + 6  # 516

_I64_RANGE = 1 << 64


def _wrap_i32(v: int) -> int:
    """C-style (i32) truncating cast."""
    return ((v + 0x8000_0000) & 0xFFFF_FFFF) - 0x8000_0000


def _wrap_i64(v: int) -> int:
    return ((v + (1 << 63)) % _I64_RANGE) - (1 << 63)


def _u64(v: int) -> int:
    return v & 0xFFFF_FFFF_FFFF_FFFF


def _i32_quantize(f: np.float32) -> int:
    """LASzip I32_QUANTIZE: float32 round-half-away-from-zero, truncating."""
    return int(np.float32(f) + np.float32(0.5)) if f >= 0 else int(
        np.float32(f) - np.float32(0.5)
    )


class _GpsTime11V2State:
    """Shared model/sequence state (reset per chunk).  4 interleaved
    sequences tracked; each keeps its last time and last 32-bit delta."""

    __slots__ = ("m_multi", "m_0diff", "ic", "last", "next",
                 "last_gpstime", "last_gpstime_diff", "multi_extreme_counter")

    def __init__(self, first_i64: int):
        self.m_multi = ArithmeticModel(GPSTIME_MULTI_TOTAL)
        self.m_0diff = ArithmeticModel(6)
        self.ic = IntegerCompressor(32, 9)
        self.last = 0
        self.next = 0
        self.last_gpstime = [first_i64, 0, 0, 0]
        self.last_gpstime_diff = [0, 0, 0, 0]
        self.multi_extreme_counter = [0, 0, 0, 0]

    def _new_sequence(self, i64: int) -> None:
        self.next = (self.next + 1) & 3
        self.last = self.next
        self.last_gpstime_diff[self.last] = 0
        self.multi_extreme_counter[self.last] = 0
        self.last_gpstime[self.last] = i64


class GpsTime11V2Compressor:
    def __init__(self, enc: ArithmeticEncoder, first_i64: int):
        self.enc = enc
        self.s = _GpsTime11V2State(first_i64)

    def compress(self, i64: int) -> None:
        enc, s = self.enc, self.s
        if s.last_gpstime_diff[s.last] == 0:  # last delta was zero
            if i64 == s.last_gpstime[s.last]:
                enc.encode_symbol(s.m_0diff, 0)  # unchanged
                return
            diff64 = i64 - s.last_gpstime[s.last]
            diff32 = _wrap_i32(diff64)
            if diff64 == diff32:  # delta fits 32 bits
                enc.encode_symbol(s.m_0diff, 1)
                s.ic.compress(enc, 0, diff32, 0)
                s.last_gpstime_diff[s.last] = diff32
                s.multi_extreme_counter[s.last] = 0
                s.last_gpstime[s.last] = i64
                return
            for i in range(1, 4):  # another sequence already at this time?
                other = (s.last + i) & 3
                if i64 == s.last_gpstime[other]:
                    enc.encode_symbol(s.m_0diff, i + 2)
                    s.last = other
                    return self.compress(i64)
            enc.encode_symbol(s.m_0diff, 2)  # 64-bit jump: raw hi ic + lo bits
            s.ic.compress(
                enc, _wrap_i32(_u64(s.last_gpstime[s.last]) >> 32),
                _wrap_i32(_u64(i64) >> 32), 8,
            )
            enc.write_bits(32, _u64(i64) & 0xFFFF_FFFF)
            s._new_sequence(i64)
            return
        # last delta was non-zero: code the multiplier against it
        if i64 == s.last_gpstime[s.last]:
            enc.encode_symbol(s.m_multi, GPSTIME_MULTI_UNCHANGED)
            return
        diff64 = i64 - s.last_gpstime[s.last]
        diff32 = _wrap_i32(diff64)
        if diff64 == diff32:
            multi = _i32_quantize(
                np.float32(diff32) / np.float32(s.last_gpstime_diff[s.last])
            )
            if multi == 1:  # likeliest: delta repeats
                enc.encode_symbol(s.m_multi, 1)
                s.ic.compress(enc, s.last_gpstime_diff[s.last], diff32, 1)
                s.multi_extreme_counter[s.last] = 0
            elif multi > 0:
                if multi < GPSTIME_MULTI:
                    enc.encode_symbol(s.m_multi, multi)
                    s.ic.compress(
                        enc, multi * s.last_gpstime_diff[s.last], diff32,
                        2 if multi < 10 else 3,
                    )
                else:
                    enc.encode_symbol(s.m_multi, GPSTIME_MULTI)
                    s.ic.compress(
                        enc, GPSTIME_MULTI * s.last_gpstime_diff[s.last], diff32, 4
                    )
                    self._bump_extreme(diff32)
            elif multi < 0:
                if multi > GPSTIME_MULTI_MINUS:
                    enc.encode_symbol(s.m_multi, GPSTIME_MULTI - multi)
                    s.ic.compress(
                        enc, multi * s.last_gpstime_diff[s.last], diff32, 5
                    )
                else:
                    enc.encode_symbol(s.m_multi, GPSTIME_MULTI - GPSTIME_MULTI_MINUS)
                    s.ic.compress(
                        enc, GPSTIME_MULTI_MINUS * s.last_gpstime_diff[s.last],
                        diff32, 6,
                    )
                    self._bump_extreme(diff32)
            else:  # multi == 0
                enc.encode_symbol(s.m_multi, 0)
                s.ic.compress(enc, 0, diff32, 7)
                self._bump_extreme(diff32)
            s.last_gpstime[s.last] = i64
            return
        for i in range(1, 4):  # fits 32 bits against another sequence?
            other = (s.last + i) & 3
            other_diff64 = i64 - s.last_gpstime[other]
            if other_diff64 == _wrap_i32(other_diff64):
                enc.encode_symbol(s.m_multi, GPSTIME_MULTI_CODE_FULL + i)
                s.last = other
                return self.compress(i64)
        enc.encode_symbol(s.m_multi, GPSTIME_MULTI_CODE_FULL)
        s.ic.compress(
            enc, _wrap_i32(_u64(s.last_gpstime[s.last]) >> 32),
            _wrap_i32(_u64(i64) >> 32), 8,
        )
        enc.write_bits(32, _u64(i64) & 0xFFFF_FFFF)
        s._new_sequence(i64)

    def _bump_extreme(self, diff32: int) -> None:
        s = self.s
        s.multi_extreme_counter[s.last] += 1
        if s.multi_extreme_counter[s.last] > 3:
            s.last_gpstime_diff[s.last] = diff32
            s.multi_extreme_counter[s.last] = 0


class GpsTime11V2Decompressor:
    def __init__(self, dec: ArithmeticDecoder, first_i64: int):
        self.dec = dec
        self.s = _GpsTime11V2State(first_i64)

    def _read_full(self) -> None:
        dec, s = self.dec, self.s
        hi = s.ic.decompress(dec, _wrap_i32(_u64(s.last_gpstime[s.last]) >> 32), 8)
        val = (_u64(hi) << 32) | dec.read_bits(32)
        s.next = (s.next + 1) & 3
        s.last = s.next
        s.last_gpstime[s.last] = _wrap_i64(val)
        s.last_gpstime_diff[s.last] = 0
        s.multi_extreme_counter[s.last] = 0

    def decompress(self) -> int:
        dec, s = self.dec, self.s
        if s.last_gpstime_diff[s.last] == 0:
            multi = dec.decode_symbol(s.m_0diff)
            if multi == 1:
                d = s.ic.decompress(dec, 0, 0)
                s.last_gpstime_diff[s.last] = d
                s.last_gpstime[s.last] = _wrap_i64(s.last_gpstime[s.last] + d)
                s.multi_extreme_counter[s.last] = 0
            elif multi == 2:
                self._read_full()
            elif multi > 2:
                s.last = (s.last + multi - 2) & 3
                return self.decompress()
            return s.last_gpstime[s.last]
        multi = dec.decode_symbol(s.m_multi)
        if multi == 1:
            d = s.ic.decompress(dec, s.last_gpstime_diff[s.last], 1)
            s.last_gpstime[s.last] = _wrap_i64(s.last_gpstime[s.last] + d)
            s.multi_extreme_counter[s.last] = 0
        elif multi < GPSTIME_MULTI_UNCHANGED:
            if multi == 0:
                d = s.ic.decompress(dec, 0, 7)
                self._bump_extreme(d)
            elif multi < GPSTIME_MULTI:
                d = s.ic.decompress(
                    dec, multi * s.last_gpstime_diff[s.last],
                    2 if multi < 10 else 3,
                )
            elif multi == GPSTIME_MULTI:
                d = s.ic.decompress(
                    dec, GPSTIME_MULTI * s.last_gpstime_diff[s.last], 4
                )
                self._bump_extreme(d)
            else:
                neg = GPSTIME_MULTI - multi  # symbols 501.. -> -1..
                if neg > GPSTIME_MULTI_MINUS:
                    d = s.ic.decompress(
                        dec, neg * s.last_gpstime_diff[s.last], 5
                    )
                else:
                    d = s.ic.decompress(
                        dec, GPSTIME_MULTI_MINUS * s.last_gpstime_diff[s.last], 6
                    )
                    self._bump_extreme(d)
            s.last_gpstime[s.last] = _wrap_i64(s.last_gpstime[s.last] + d)
        elif multi == GPSTIME_MULTI_CODE_FULL:
            self._read_full()
        elif multi > GPSTIME_MULTI_CODE_FULL:
            s.last = (s.last + multi - GPSTIME_MULTI_CODE_FULL) & 3
            return self.decompress()
        # GPSTIME_MULTI_UNCHANGED: value repeats, state untouched
        return s.last_gpstime[s.last]

    def _bump_extreme(self, d: int) -> None:
        s = self.s
        s.multi_extreme_counter[s.last] += 1
        if s.multi_extreme_counter[s.last] > 3:
            s.last_gpstime_diff[s.last] = d
            s.multi_extreme_counter[s.last] = 0


# --- RGB12 version 2 (point formats 2 and 3) --------------------------------


def _u8_clamp(x: int) -> int:
    return 0 if x < 0 else (255 if x > 255 else x)


def _div2_trunc(x: int) -> int:
    """C integer division by 2 (truncates toward zero, unlike //)."""
    return -((-x) >> 1) if x < 0 else x >> 1


class _Rgb12V2State:
    __slots__ = ("m_byte_used", "m_diff", "last")

    def __init__(self, first: tuple[int, int, int]):
        self.m_byte_used = ArithmeticModel(128)
        self.m_diff = [ArithmeticModel(256) for _ in range(6)]
        self.last = first


class Rgb12V2Compressor:
    """Per-byte delta coder: low/high bytes of R code against the last
    point; G and B code against R's delta (clamped), halving the delta as
    it propagates — the spec's grayscale-leaning predictor."""

    def __init__(self, enc: ArithmeticEncoder, first: tuple[int, int, int]):
        self.enc = enc
        self.s = _Rgb12V2State(first)

    def compress(self, rgb: tuple[int, int, int]) -> None:
        enc, s = self.enc, self.s
        r, g, b = rgb
        lr, lg, lb = s.last
        sym = 0
        if (lr & 0xFF) != (r & 0xFF):
            sym |= 1
        if (lr >> 8) != (r >> 8):
            sym |= 2
        if (lg & 0xFF) != (g & 0xFF):
            sym |= 4
        if (lg >> 8) != (g >> 8):
            sym |= 8
        if (lb & 0xFF) != (b & 0xFF):
            sym |= 16
        if (lb >> 8) != (b >> 8):
            sym |= 32
        if ((r & 0xFF) != (g & 0xFF) or (r & 0xFF) != (b & 0xFF)
                or (r >> 8) != (g >> 8) or (r >> 8) != (b >> 8)):
            sym |= 64
        enc.encode_symbol(s.m_byte_used, sym)
        diff_l = diff_h = 0
        if sym & 1:
            diff_l = (r & 255) - (lr & 255)
            enc.encode_symbol(s.m_diff[0], _u8_fold(diff_l))
        if sym & 2:
            diff_h = (r >> 8) - (lr >> 8)
            enc.encode_symbol(s.m_diff[1], _u8_fold(diff_h))
        if sym & 64:
            if sym & 4:
                corr = (g & 255) - _u8_clamp(diff_l + (lg & 255))
                enc.encode_symbol(s.m_diff[2], _u8_fold(corr))
            if sym & 16:
                diff_l = _div2_trunc(diff_l + (g & 255) - (lg & 255))
                corr = (b & 255) - _u8_clamp(diff_l + (lb & 255))
                enc.encode_symbol(s.m_diff[4], _u8_fold(corr))
            if sym & 8:
                corr = (g >> 8) - _u8_clamp(diff_h + (lg >> 8))
                enc.encode_symbol(s.m_diff[3], _u8_fold(corr))
            if sym & 32:
                diff_h = _div2_trunc(diff_h + (g >> 8) - (lg >> 8))
                corr = (b >> 8) - _u8_clamp(diff_h + (lb >> 8))
                enc.encode_symbol(s.m_diff[5], _u8_fold(corr))
        s.last = (r, g, b)


class Rgb12V2Decompressor:
    def __init__(self, dec: ArithmeticDecoder, first: tuple[int, int, int]):
        self.dec = dec
        self.s = _Rgb12V2State(first)

    def decompress(self) -> tuple[int, int, int]:
        dec, s = self.dec, self.s
        lr, lg, lb = s.last
        sym = dec.decode_symbol(s.m_byte_used)
        if sym & 1:
            r_l = _u8_fold(dec.decode_symbol(s.m_diff[0]) + (lr & 255))
        else:
            r_l = lr & 255
        if sym & 2:
            r_h = _u8_fold(dec.decode_symbol(s.m_diff[1]) + (lr >> 8))
        else:
            r_h = lr >> 8
        r = r_l | (r_h << 8)
        if sym & 64:
            diff_l = (r & 255) - (lr & 255)
            diff_h = (r >> 8) - (lr >> 8)
            if sym & 4:
                g_l = _u8_fold(
                    dec.decode_symbol(s.m_diff[2]) + _u8_clamp(diff_l + (lg & 255))
                )
            else:
                g_l = lg & 255
            if sym & 16:
                diff_l = _div2_trunc(diff_l + g_l - (lg & 255))
                b_l = _u8_fold(
                    dec.decode_symbol(s.m_diff[4]) + _u8_clamp(diff_l + (lb & 255))
                )
            else:
                b_l = lb & 255
            if sym & 8:
                g_h = _u8_fold(
                    dec.decode_symbol(s.m_diff[3]) + _u8_clamp(diff_h + (lg >> 8))
                )
            else:
                g_h = lg >> 8
            if sym & 32:
                diff_h = _div2_trunc(diff_h + g_h - (lg >> 8))
                b_h = _u8_fold(
                    dec.decode_symbol(s.m_diff[5]) + _u8_clamp(diff_h + (lb >> 8))
                )
            else:
                b_h = lb >> 8
            g = g_l | (g_h << 8)
            b = b_l | (b_h << 8)
        else:
            g = b = r
        s.last = (r, g, b)
        return s.last


# --- chunk and chunk-table coding ------------------------------------------


def compress_chunk(
    points: list[Point10],
    gps_i64: list[int] | None = None,
    rgb: list[tuple[int, int, int]] | None = None,
) -> bytes:
    """One LAZ chunk: every item of the first point raw (record order),
    then ONE shared arithmetic stream with each point's items compressed
    in order (POINT10[, GPSTIME11][, RGB12]) — the spec's pointwise
    chunked layout."""
    if not points:
        return b""
    out = bytearray(points[0].pack())
    if gps_i64 is not None:
        out += struct.pack("<q", gps_i64[0])
    if rgb is not None:
        out += struct.pack("<HHH", *rgb[0])
    if len(points) > 1:
        enc = ArithmeticEncoder()
        comp = Point10V2Compressor(enc, points[0])
        gcomp = GpsTime11V2Compressor(enc, gps_i64[0]) if gps_i64 is not None else None
        ccomp = Rgb12V2Compressor(enc, rgb[0]) if rgb is not None else None
        for i in range(1, len(points)):
            comp.compress(points[i])
            if gcomp is not None:
                gcomp.compress(gps_i64[i])
            if ccomp is not None:
                ccomp.compress(rgb[i])
        out += enc.done()
    return bytes(out)


def decompress_chunk(data: bytes, count: int, point_format: int = 0):
    """Inverse of :func:`compress_chunk` for a known point count.

    Returns ``(points, gps_i64, rgb)``; the latter two are ``None`` when
    the format lacks them.  (Format 0 callers that expect the historical
    points-only list should use ``decompress_chunk(...)[0]``.)
    """
    has_gps = point_format in (1, 3)
    has_rgb = point_format in (2, 3)
    if count == 0:
        return [], ([] if has_gps else None), ([] if has_rgb else None)
    off = POINT10_SIZE
    first = Point10.unpack(data, 0)
    gps = rgbs = None
    if has_gps:
        gps = [struct.unpack_from("<q", data, off)[0]]
        off += GPSTIME11_SIZE
    if has_rgb:
        rgbs = [struct.unpack_from("<HHH", data, off)]
        off += RGB12_SIZE
    pts = [first]
    if count > 1:
        dec = ArithmeticDecoder(data, pos=off)
        dcmp = Point10V2Decompressor(dec, first)
        gdcmp = GpsTime11V2Decompressor(dec, gps[0]) if has_gps else None
        cdcmp = Rgb12V2Decompressor(dec, rgbs[0]) if has_rgb else None
        for _ in range(count - 1):
            pts.append(dcmp.decompress())
            if gdcmp is not None:
                gps.append(gdcmp.decompress())
            if cdcmp is not None:
                rgbs.append(cdcmp.decompress())
    return pts, gps, rgbs


def write_chunk_table(chunk_sizes: list[int]) -> bytes:
    """Chunk table: u32 version=0, u32 count, then IntegerCompressor(32,2)
    coded byte sizes, each predicted by the previous (spec §3)."""
    out = bytearray(struct.pack("<II", 0, len(chunk_sizes)))
    enc = ArithmeticEncoder()
    ic = IntegerCompressor(32, 2)
    prev = 0
    for s in chunk_sizes:
        ic.compress(enc, prev, s, 1)
        prev = s
    out += enc.done()
    return bytes(out)


def read_chunk_table(data: bytes, pos: int = 0) -> list[int]:
    version, n = struct.unpack_from("<II", data, pos)
    if version != 0:
        raise ValueError(f"unsupported chunk table version {version}")
    dec = ArithmeticDecoder(data, pos=pos + 8)
    ic = IntegerCompressor(32, 2)
    sizes = []
    prev = 0
    for _ in range(n):
        prev = ic.decompress(dec, prev, 1)
        sizes.append(prev)
    return sizes


# --- LASzip VLR -------------------------------------------------------------


def laszip_vlr_payload(
    chunk_size: int = DEFAULT_CHUNK_SIZE, point_format: int = 0
) -> bytes:
    """LASzip VLR record payload for formats 0-3 items, compressor 2."""
    items = FORMAT_ITEMS[point_format]
    return struct.pack(
        "<HHBBHIIqqH",
        2,  # compressor: pointwise chunked
        0,  # coder: arithmetic
        2, 2, 0,  # version 2.2.0
        0,  # options
        chunk_size,
        -1,  # number_of_special_evlrs
        -1,  # offset_to_special_evlrs
        len(items),
    ) + b"".join(struct.pack("<HHH", t, sz, 2) for t, sz in items)  # all v2


def parse_laszip_vlr(payload: bytes) -> dict:
    (compressor, coder, vmaj, vmin, vrev, options, chunk_size, n_evlr,
     off_evlr, num_items) = struct.unpack_from("<HHBBHIIqqH", payload, 0)
    items = []
    off = struct.calcsize("<HHBBHIIqqH")
    for _ in range(num_items):
        t, sz, ver = struct.unpack_from("<HHH", payload, off)
        items.append({"type": t, "size": sz, "version": ver})
        off += 6
    return {
        "compressor": compressor,
        "coder": coder,
        "version": (vmaj, vmin, vrev),
        "chunk_size": chunk_size,
        "items": items,
    }


# --- whole-file write/read --------------------------------------------------


_HDR_FMT_12 = "<4sHHIHH8sBB32s32sHHHIIBHI5I12d"


def write_laz(
    path: str,
    cols: dict[str, np.ndarray],
    scales=(0.001, 0.001, 0.001),
    offsets=(0.0, 0.0, 0.0),
    chunk_size: int = DEFAULT_CHUNK_SIZE,
    point_format: int = 0,
) -> None:
    """Write point format 0-3 LAZ from column arrays (``x``/``y``/``z``
    float64 + optional ``intensity``/``classification``/... ints, plus
    ``gps_time`` for formats 1/3 and ``red``/``green``/``blue`` for 2/3).

    Mirrors ``las_native.write_las``'s header discipline: exact
    quantized-grid bounds stamped in the header.
    """
    if point_format not in FORMAT_ITEMS:
        raise ValueError(f"native LAZ write covers formats 0-3, not {point_format}")
    x, y, z = (np.asarray(cols[c], dtype=np.float64) for c in ("xyz"))
    npts = len(x)
    xi = np.round((x - offsets[0]) / scales[0]).astype(np.int64)
    yi = np.round((y - offsets[1]) / scales[1]).astype(np.int64)
    zi = np.round((z - offsets[2]) / scales[2]).astype(np.int64)
    for name, arr in (("x", xi), ("y", yi), ("z", zi)):
        if npts and (arr.min() < -(2**31) or arr.max() >= 2**31):
            raise ValueError(f"{name} grid coordinate overflows i32; adjust scale/offset")
    inten = np.asarray(cols.get("intensity", np.zeros(npts)), dtype=np.int64)
    klass = np.asarray(cols.get("classification", np.zeros(npts)), dtype=np.int64)
    retb = np.asarray(cols.get("return_byte", np.full(npts, 0x09)), dtype=np.int64)
    angle = np.asarray(cols.get("scan_angle_rank", np.zeros(npts)), dtype=np.int64)
    udata = np.asarray(cols.get("user_data", np.zeros(npts)), dtype=np.int64)
    psid = np.asarray(cols.get("point_source_id", np.zeros(npts)), dtype=np.int64)

    pts = [
        Point10(int(xi[i]), int(yi[i]), int(zi[i]), int(inten[i]), int(retb[i]),
                int(klass[i]), int(angle[i]), int(udata[i]), int(psid[i]))
        for i in range(npts)
    ]
    has_gps = point_format in (1, 3)
    has_rgb = point_format in (2, 3)
    gps_bits = None
    if has_gps:
        gt = np.asarray(cols.get("gps_time", np.zeros(npts)), dtype=np.float64)
        gps_bits = [int(b) for b in gt.view(np.int64)]
    rgb_vals = None
    if has_rgb:
        r = np.asarray(cols.get("red", np.zeros(npts)), dtype=np.int64)
        g = np.asarray(cols.get("green", np.zeros(npts)), dtype=np.int64)
        b = np.asarray(cols.get("blue", np.zeros(npts)), dtype=np.int64)
        rgb_vals = [(int(r[i]), int(g[i]), int(b[i])) for i in range(npts)]
    blobs = []
    for lo in range(0, npts, chunk_size) if npts else [0]:
        hi = min(lo + chunk_size, npts)
        blobs.append(
            compress_chunk(
                pts[lo:hi],
                gps_bits[lo:hi] if has_gps else None,
                rgb_vals[lo:hi] if has_rgb else None,
            )
        )

    vlr_payload = laszip_vlr_payload(chunk_size, point_format)
    vlr = (
        struct.pack("<H16sHH32s", 0, LASZIP_USER_ID, LASZIP_RECORD_ID,
                    len(vlr_payload), b"laz native codec".ljust(32, b"\x00"))
        + vlr_payload
    )
    header_size = 227
    offset_to_points = header_size + len(vlr)

    def _g(a, fn, default=0.0):
        return float(fn(a)) if npts else default

    gx = xi * scales[0] + offsets[0] if npts else np.array([0.0])
    gy = yi * scales[1] + offsets[1] if npts else np.array([0.0])
    gz = zi * scales[2] + offsets[2] if npts else np.array([0.0])
    n_by_return = [int((retb & 7 == k).sum()) if npts else 0 for k in range(1, 6)]
    header = struct.pack(
        _HDR_FMT_12,
        b"LASF", 0, 0, 0, 0, 0, b"\x00" * 8, 1, 2,
        b"laz native codec".ljust(32, b"\x00"),
        b"agile_lakehouse_spark".ljust(32, b"\x00"),
        1, 2026, header_size, offset_to_points, 0,
        point_format | 0x80,  # compressed bit
        sum(sz for _, sz in FORMAT_ITEMS[point_format]), npts, *n_by_return,
        scales[0], scales[1], scales[2],
        offsets[0], offsets[1], offsets[2],
        _g(gx, np.max), _g(gx, np.min),
        _g(gy, np.max), _g(gy, np.min),
        _g(gz, np.max), _g(gz, np.min),
    )
    # one VLR
    header = header[:100] + struct.pack("<I", 1) + header[104:]

    with open(path, "wb") as f:
        f.write(header)
        f.write(vlr)
        chunk_start = offset_to_points + 8
        table_off = chunk_start + sum(len(b) for b in blobs)
        f.write(struct.pack("<q", table_off))
        for b in blobs:
            f.write(b)
        f.write(write_chunk_table([len(b) for b in blobs]))


@dataclass
class LazInfo:
    n_points: int
    chunk_size: int
    scales: tuple
    offsets: tuple
    chunk_offsets: list[int]  # absolute byte offset of each chunk
    chunk_sizes: list[int]  # compressed byte size of each chunk
    chunk_points: list[int]  # decoded point count of each chunk
    point_format: int = 0


def read_laz_info(path: str) -> LazInfo:
    """Parse header + LASzip VLR + REAL chunk table -> per-chunk read
    units (the reference's parallel unit, ``source.rs:159-208``).

    Reads only the bytes up to the chunk-table offset (header, VLRs and
    the offset itself) and, once the VLR names a supported variant, the
    chunk table at the end of the file, never the compressed points
    between them.  An unsupported variant, or a chunk-table offset of -1,
    raises ``NotImplementedError`` so the caller can fall back to laspy."""
    from agile_lakehouse_spark.sources import las_native

    hdr = las_native.read_header(path)
    if not hdr.compressed:
        raise ValueError(f"{path} is not compressed LAS (use las_native)")
    with open(path, "rb") as f:
        raw = f.read(hdr.offset_to_points + 8)
    # walk VLRs between header end and offset_to_points
    hdr_size = struct.unpack_from("<H", raw, 94)[0]
    n_vlrs = struct.unpack_from("<I", raw, 100)[0]
    pos = hdr_size
    vlr_info = None
    for _ in range(n_vlrs):
        _res, user, rec, length, _desc = struct.unpack_from("<H16sHH32s", raw, pos)
        pos += 54
        if user.rstrip(b"\x00") == LASZIP_USER_ID.rstrip(b"\x00") and rec == LASZIP_RECORD_ID:
            vlr_info = parse_laszip_vlr(raw[pos : pos + length])
        pos += length
    if vlr_info is None:
        raise ValueError(f"{path}: no LASzip VLR")
    if vlr_info["compressor"] != 2 or vlr_info["coder"] != 0:
        raise NotImplementedError(f"unsupported LAZ variant {vlr_info}")
    item_types = [i["type"] for i in vlr_info["items"]]
    fmt = next(
        (f for f, its in FORMAT_ITEMS.items() if [t for t, _ in its] == item_types),
        None,
    )
    if fmt is None or any(i["version"] != 2 for i in vlr_info["items"]):
        raise NotImplementedError(
            f"native LAZ covers POINT10/GPSTIME11/RGB12 v2 (formats 0-3); "
            f"items={vlr_info['items']} need laspy"
        )
    table_off = struct.unpack_from("<q", raw, hdr.offset_to_points)[0]
    if table_off < 0:  # the writer could not seek back to stamp it
        raise NotImplementedError(f"{path}: chunk table offset {table_off} needs laspy")
    with open(path, "rb") as f:
        f.seek(table_off)
        sizes = read_chunk_table(f.read())
    chunk_size = vlr_info["chunk_size"]
    offs, counts = [], []
    cur = hdr.offset_to_points + 8
    remaining = hdr.n_points
    for s in sizes:
        offs.append(cur)
        cur += s
        counts.append(min(chunk_size, remaining))
        remaining -= counts[-1]
    return LazInfo(
        n_points=hdr.n_points,
        chunk_size=chunk_size,
        scales=hdr.scales,
        offsets=hdr.offsets,
        chunk_offsets=offs,
        chunk_sizes=sizes,
        chunk_points=counts,
        point_format=fmt,
    )


def decode_laz_chunk(path: str, info: LazInfo, chunk_idx: int, raw: bool = False) -> dict:
    """Decode ONE chunk (a Spark task's unit) -> column dict."""
    with open(path, "rb") as f:
        f.seek(info.chunk_offsets[chunk_idx])
        data = f.read(info.chunk_sizes[chunk_idx])
    pts, gps, rgbs = decompress_chunk(
        data, info.chunk_points[chunk_idx], info.point_format
    )
    xi = np.array([p.x for p in pts], dtype=np.int64)
    yi = np.array([p.y for p in pts], dtype=np.int64)
    zi = np.array([p.z for p in pts], dtype=np.int64)
    out = {
        "intensity": np.array([p.intensity for p in pts], dtype=np.int64),
        "classification": np.array([p.classification for p in pts], dtype=np.int64),
    }
    if gps is not None:
        out["gps_time"] = np.array(gps, dtype=np.int64).view(np.float64)
    if rgbs is not None:
        arr = np.array(rgbs, dtype=np.int64).reshape(-1, 3)
        out.update({"red": arr[:, 0], "green": arr[:, 1], "blue": arr[:, 2]})
    if raw:
        out.update({"x": xi, "y": yi, "z": zi})
    else:
        sx, sy, sz = info.scales
        ox, oy, oz = info.offsets
        out.update({"x": xi * sx + ox, "y": yi * sy + oy, "z": zi * sz + oz})
    return out


def decode_laz_points(path: str, raw: bool = False) -> dict:
    """Whole-file decode (driver-side convenience; executors go per-chunk)."""
    info = read_laz_info(path)
    parts = [decode_laz_chunk(path, info, i, raw) for i in range(len(info.chunk_offsets))]
    return {
        k: np.concatenate([p[k] for p in parts]) if parts else np.array([])
        for k in parts[0]
    } if parts else {}
