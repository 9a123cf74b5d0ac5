"""Baseline JPEG codec — pure stdlib bit-twiddling + numpy.

The codec behind TIFF compression 7 (JPEG-in-TIFF, ``geotiff.py``), the
JPEG route of ``binary.decode_image`` and the MJPEG frames of ``avi.py``:
baseline JPEG (ITU-T T.81 / ISO 10918-1, sequential DCT, 8-bit, Huffman)
is fully public spec, so a JPEG-compressed tile decodes without Pillow.
As everywhere in ``multimodal/``, the decode stays a per-file kernel
inside Arrow ``mapInPandas`` tasks — bytes never cross a shuffle
(geotiff.py module docstring).

Decoder coverage:
- marker parse: SOI/APPn/COM/DQT/DHT/DRI/SOFn/SOS/EOI, multi-table
  DQT/DHT segments, 8-bit quant precision;
- baseline + extended sequential (SOF0/SOF1): interleaved and
  single-component scans, arbitrary sampling factors with integer
  upsampling ratios (4:4:4, 4:2:2, 4:2:0, grayscale);
- restart markers (DRI/RSTn) with predictor reset + byte realign;
- abbreviated streams (tables in a separate stream, ``tables=`` — the
  TIFF compression-7 ``JPEGTables`` layout);
- strict rejection: progressive (SOF2), arithmetic coding (SOF9+) and
  lossless (SOF3) raise ``unsupported JPEG``, truncated segments raise,
  an invalid Huffman code raises, and declared dimensions are validated
  against the entropy byte budget before any allocation (the
  corrupt-dimension lesson from geotiff.py — a bit-flipped SOF must not
  buy a multi-GB ``np.zeros``).

The fixture encoder emits spec-conformant baseline streams (Annex K
quantization + Huffman tables, IJG quality scaling, 4:4:4/4:2:2/4:2:0,
optional restart intervals), so every decoder path is round-trip-
provable under a lossy tolerance bound; files produced by libjpeg
exercise the same code paths. The 8x8 DCT pair is two orthonormal
matrix products (``A @ f @ A.T``), vectorized over all blocks with
einsum, and verified against the textbook cosine-sum definition in
tests.

Python-speed note: Huffman entropy coding is bit-serial by construction,
so encode/decode are O(total bits) Python — fine for fixtures and small
tiles; the per-file kernel slot is where a native decoder
(Pillow/libjpeg-turbo) plugs in at production scale, with identical
Spark-side plumbing either way.
"""

from __future__ import annotations

import struct

import numpy as np

SOI = 0xD8
EOI = 0xD9
SOS = 0xDA
DQT = 0xDB
DRI = 0xDD
DHT = 0xC4
COM = 0xFE
TEM = 0x01  # standalone, no length field (T.81 B.1.1.3, like RSTn)


def _skip_fill(content: bytes, pos: int) -> int:
    """Skip T.81 B.1.1.2 fill bytes: any marker may be preceded by any
    number of 0xFF bytes. ``pos`` points at the first 0xFF of a marker;
    returns the offset of the LAST 0xFF (so ``content[pos+1]`` is the
    marker code byte)."""
    n = len(content)
    while pos + 1 < n and content[pos + 1] == 0xFF:
        pos += 1
    return pos


def _standalone(m: int) -> bool:
    """Markers with no length field: TEM + RSTn (T.81 table B.1)."""
    return m == TEM or 0xD0 <= m <= 0xD7

# zigzag index -> natural (row-major) index
ZIGZAG = np.array([
    0, 1, 8, 16, 9, 2, 3, 10,
    17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34,
    27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36,
    29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46,
    53, 60, 61, 54, 47, 55, 62, 63,
], dtype=np.int64)

# T.81 Annex K.1 — example quantization tables (natural order).
QUANT_LUMA = np.array([
    16, 11, 10, 16, 24, 40, 51, 61,
    12, 12, 14, 19, 26, 58, 60, 55,
    14, 13, 16, 24, 40, 57, 69, 56,
    14, 17, 22, 29, 51, 87, 80, 62,
    18, 22, 37, 56, 68, 109, 103, 77,
    24, 35, 55, 64, 81, 104, 113, 92,
    49, 64, 78, 87, 103, 121, 120, 101,
    72, 92, 95, 98, 112, 100, 103, 99,
], dtype=np.int64)
QUANT_CHROMA = np.array([
    17, 18, 24, 47, 99, 99, 99, 99,
    18, 21, 26, 66, 99, 99, 99, 99,
    24, 26, 56, 99, 99, 99, 99, 99,
    47, 66, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
], dtype=np.int64)

# T.81 Annex K.3 — example Huffman tables: (bits[1..16], values)
DC_LUMA_BITS = [0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0]
DC_LUMA_VALS = list(range(12))
DC_CHROMA_BITS = [0, 3, 1, 1, 1, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0]
DC_CHROMA_VALS = list(range(12))
AC_LUMA_BITS = [0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D]
AC_LUMA_VALS = [
    0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12,
    0x21, 0x31, 0x41, 0x06, 0x13, 0x51, 0x61, 0x07,
    0x22, 0x71, 0x14, 0x32, 0x81, 0x91, 0xA1, 0x08,
    0x23, 0x42, 0xB1, 0xC1, 0x15, 0x52, 0xD1, 0xF0,
    0x24, 0x33, 0x62, 0x72, 0x82, 0x09, 0x0A, 0x16,
    0x17, 0x18, 0x19, 0x1A, 0x25, 0x26, 0x27, 0x28,
    0x29, 0x2A, 0x34, 0x35, 0x36, 0x37, 0x38, 0x39,
    0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49,
    0x4A, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58, 0x59,
    0x5A, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68, 0x69,
    0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78, 0x79,
    0x7A, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89,
    0x8A, 0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98,
    0x99, 0x9A, 0xA2, 0xA3, 0xA4, 0xA5, 0xA6, 0xA7,
    0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5, 0xB6,
    0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5,
    0xC6, 0xC7, 0xC8, 0xC9, 0xCA, 0xD2, 0xD3, 0xD4,
    0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA, 0xE1, 0xE2,
    0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA,
    0xF1, 0xF2, 0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8,
    0xF9, 0xFA,
]
AC_CHROMA_BITS = [0, 2, 1, 2, 4, 4, 3, 4, 7, 5, 4, 4, 0, 1, 2, 0x77]
AC_CHROMA_VALS = [
    0x00, 0x01, 0x02, 0x03, 0x11, 0x04, 0x05, 0x21,
    0x31, 0x06, 0x12, 0x41, 0x51, 0x07, 0x61, 0x71,
    0x13, 0x22, 0x32, 0x81, 0x08, 0x14, 0x42, 0x91,
    0xA1, 0xB1, 0xC1, 0x09, 0x23, 0x33, 0x52, 0xF0,
    0x15, 0x62, 0x72, 0xD1, 0x0A, 0x16, 0x24, 0x34,
    0xE1, 0x25, 0xF1, 0x17, 0x18, 0x19, 0x1A, 0x26,
    0x27, 0x28, 0x29, 0x2A, 0x35, 0x36, 0x37, 0x38,
    0x39, 0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48,
    0x49, 0x4A, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58,
    0x59, 0x5A, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68,
    0x69, 0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78,
    0x79, 0x7A, 0x82, 0x83, 0x84, 0x85, 0x86, 0x87,
    0x88, 0x89, 0x8A, 0x92, 0x93, 0x94, 0x95, 0x96,
    0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3, 0xA4, 0xA5,
    0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4,
    0xB5, 0xB6, 0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3,
    0xC4, 0xC5, 0xC6, 0xC7, 0xC8, 0xC9, 0xCA, 0xD2,
    0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA,
    0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9,
    0xEA, 0xF2, 0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8,
    0xF9, 0xFA,
]


def _dct_matrix() -> np.ndarray:
    """Orthonormal 8x8 DCT-II basis: forward ``F = A @ f @ A.T``,
    inverse ``f = A.T @ F @ A`` (A @ A.T == I)."""
    x = np.arange(8, dtype=np.float64)
    u = x[:, None]
    a = np.cos((2 * x[None, :] + 1) * u * np.pi / 16.0) * 0.5
    a[0, :] = 1.0 / (2.0 * np.sqrt(2.0))
    return a

_A = _dct_matrix()


def _build_huffman(bits: list[int], vals: list[int]) -> dict:
    """Canonical Huffman table (T.81 C.2): {(length, code): symbol}."""
    table, code, k = {}, 0, 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            table[(length, code)] = vals[k]
            code += 1
            k += 1
        code <<= 1
    return table


def _build_encode_table(bits: list[int], vals: list[int]) -> dict:
    """{symbol: (code, length)} — the encoder-side view."""
    return {
        sym: (code, length)
        for (length, code), sym in _build_huffman(bits, vals).items()
    }


def _extend(v: int, s: int) -> int:
    """T.81 F.12: map the s-bit magnitude field to a signed value."""
    if s and v < (1 << (s - 1)):
        return v - (1 << s) + 1
    return v


class _EntropyReader:
    """MSB-first bit reader over an UNSTUFFED entropy-coded segment."""

    __slots__ = ("data", "pos", "nbits")

    def __init__(self, data: bytes):
        self.data = data
        self.pos = 0
        self.nbits = len(data) * 8

    def read_bit(self) -> int:
        p = self.pos
        if p >= self.nbits:
            raise ValueError("malformed JPEG: entropy data truncated")
        self.pos = p + 1
        return (self.data[p >> 3] >> (7 - (p & 7))) & 1

    def read_bits(self, n: int) -> int:
        v = 0
        for _ in range(n):
            v = (v << 1) | self.read_bit()
        return v

    def decode(self, table: dict) -> int:
        code, length = 0, 0
        while length < 16:
            code = (code << 1) | self.read_bit()
            length += 1
            sym = table.get((length, code))
            if sym is not None:
                return sym
        raise ValueError("malformed JPEG: invalid Huffman code")


def _u16(b: bytes, off: int) -> int:
    if off + 2 > len(b):
        raise ValueError("malformed JPEG: truncated")
    return struct.unpack_from(">H", b, off)[0]


class _Tables:
    def __init__(self):
        self.quant: dict[int, np.ndarray] = {}   # id -> 64 natural-order
        self.huff_dc: dict[int, dict] = {}
        self.huff_ac: dict[int, dict] = {}
        self.restart_interval = 0


def _parse_dqt(seg: bytes, t: _Tables) -> None:
    pos = 0
    while pos < len(seg):
        pq, tq = seg[pos] >> 4, seg[pos] & 0x0F
        pos += 1
        if pq == 0:
            if pos + 64 > len(seg):
                raise ValueError("malformed JPEG: truncated DQT")
            zz = np.frombuffer(seg[pos : pos + 64], dtype=np.uint8)
            pos += 64
        elif pq == 1:
            if pos + 128 > len(seg):
                raise ValueError("malformed JPEG: truncated DQT")
            zz = np.frombuffer(seg[pos : pos + 128], dtype=">u2")
            pos += 128
        else:
            raise ValueError(f"malformed JPEG: DQT precision {pq}")
        nat = np.zeros(64, dtype=np.int64)
        nat[ZIGZAG] = zz.astype(np.int64)
        t.quant[tq] = nat


def _parse_dht(seg: bytes, t: _Tables) -> None:
    pos = 0
    while pos < len(seg):
        if pos + 17 > len(seg):
            raise ValueError("malformed JPEG: truncated DHT")
        tc, th = seg[pos] >> 4, seg[pos] & 0x0F
        bits = list(seg[pos + 1 : pos + 17])
        pos += 17
        n = sum(bits)
        if pos + n > len(seg):
            raise ValueError("malformed JPEG: truncated DHT")
        vals = list(seg[pos : pos + n])
        pos += n
        if tc == 0:
            t.huff_dc[th] = _build_huffman(bits, vals)
        elif tc == 1:
            t.huff_ac[th] = _build_huffman(bits, vals)
        else:
            raise ValueError(f"malformed JPEG: DHT class {tc}")


def _split_ecs(content: bytes, pos: int) -> tuple[list[bytes], int]:
    """Unstuff the entropy-coded data starting at ``pos`` into segments
    split on RSTn markers; returns (segments, offset of the terminating
    marker's 0xFF)."""
    segs, cur = [], bytearray()
    n = len(content)
    while pos < n:
        b = content[pos]
        if b != 0xFF:
            cur.append(b)
            pos += 1
            continue
        if pos + 1 >= n:
            raise ValueError("malformed JPEG: truncated entropy data")
        m = content[pos + 1]
        if m == 0x00:
            cur.append(0xFF)
            pos += 2
        elif m == 0xFF:  # fill byte before a marker (B.1.1.2)
            pos += 1
        elif 0xD0 <= m <= 0xD7:  # RSTn
            segs.append(bytes(cur))
            cur = bytearray()
            pos += 2
        else:
            segs.append(bytes(cur))
            return segs, pos
    raise ValueError("malformed JPEG: missing EOI")


def jpeg_info(content: bytes) -> tuple[int, int, int]:
    """(width, height, channels) from the SOF header — cheap metadata
    decode (any SOFn), no entropy work."""
    if len(content) < 4 or content[0] != 0xFF or content[1] != SOI:
        raise ValueError("not a JPEG")
    pos = 2
    while pos + 4 <= len(content):
        if content[pos] != 0xFF:
            raise ValueError("malformed JPEG: marker expected")
        pos = _skip_fill(content, pos)
        if pos + 2 > len(content):  # tail was all fill bytes
            raise ValueError("malformed JPEG: truncated after fill bytes")
        m = content[pos + 1]
        if m in (SOI, EOI) or _standalone(m):
            pos += 2
            continue
        ln = _u16(content, pos + 2)
        if 0xC0 <= m <= 0xCF and m not in (DHT, 0xC8, 0xCC):
            seg = content[pos + 4 : pos + 2 + ln]
            if len(seg) < 6:
                raise ValueError("malformed JPEG: truncated SOF")
            h, w = struct.unpack_from(">HH", seg, 1)
            return w, h, seg[5]
        pos += 2 + ln
    raise ValueError("malformed JPEG: no SOF marker")


def decode_jpeg(content: bytes, tables: bytes | None = None) -> np.ndarray:
    """Full baseline decode -> uint8 array, (h, w) for grayscale or
    (h, w, 3) RGB (JFIF BT.601 YCbCr).

    ``tables`` is an optional abbreviated table stream (SOI, DQT/DHT/DRI
    segments, EOI) parsed first — the TIFF compression-7 ``JPEGTables``
    convention, where per-tile streams carry only SOF/SOS.
    """
    t = _Tables()
    if tables is not None:
        _scan_stream(tables, t, expect_image=False)
    return _scan_stream(content, t, expect_image=True)


def _scan_stream(content: bytes, t: _Tables, expect_image: bool):
    if len(content) < 2 or content[0] != 0xFF or content[1] != SOI:
        raise ValueError("not a JPEG")
    pos = 2
    frame = None  # (w, h, comps) comps: list of (cid, h, v, tq)
    while True:
        if pos + 2 > len(content):
            if expect_image:
                raise ValueError("malformed JPEG: missing EOI")
            return None
        if content[pos] != 0xFF:
            raise ValueError("malformed JPEG: marker expected")
        pos = _skip_fill(content, pos)
        if pos + 2 > len(content):
            if expect_image:
                raise ValueError("malformed JPEG: missing EOI")
            return None
        m = content[pos + 1]
        pos += 2
        if m == EOI:
            if expect_image:
                raise ValueError("malformed JPEG: EOI before SOS")
            return None
        if m == SOI or _standalone(m):
            continue
        ln = _u16(content, pos)
        seg = content[pos + 2 : pos + ln]
        if len(seg) != ln - 2:
            raise ValueError("malformed JPEG: truncated segment")
        pos += ln
        if m == DQT:
            _parse_dqt(seg, t)
        elif m == DHT:
            _parse_dht(seg, t)
        elif m == DRI:
            if len(seg) < 2:
                raise ValueError("malformed JPEG: truncated DRI")
            t.restart_interval = _u16(seg, 0)
        elif m in (0xC0, 0xC1):  # baseline / extended sequential
            if len(seg) < 6:
                raise ValueError("malformed JPEG: truncated SOF")
            prec, h, w, nc = seg[0], _u16(seg, 1), _u16(seg, 3), seg[5]
            if prec != 8:
                raise ValueError(f"unsupported JPEG: {prec}-bit precision")
            if h == 0 or w == 0 or nc == 0:
                raise ValueError("malformed JPEG: zero dimension")
            if len(seg) < 6 + 3 * nc:
                raise ValueError("malformed JPEG: truncated SOF")
            comps = []
            for i in range(nc):
                cid, hv, tq = seg[6 + 3 * i : 9 + 3 * i]
                ch, cv = hv >> 4, hv & 0x0F
                if not (1 <= ch <= 4 and 1 <= cv <= 4):
                    raise ValueError("malformed JPEG: bad sampling factor")
                comps.append((cid, ch, cv, tq))
            frame = (w, h, comps)
        elif 0xC2 <= m <= 0xCF and m not in (DHT, 0xC8, 0xCC):
            raise ValueError(f"unsupported JPEG: SOF{m - 0xC0} process")
        elif m == SOS:
            if frame is None:
                raise ValueError("malformed JPEG: SOS before SOF")
            return _decode_scan(content, pos, seg, frame, t)
        # APPn / COM / others: skipped


def _decode_scan(content, pos, seg, frame, t):
    """Sequential (SOF0/SOF1) decode: the common single interleaved scan,
    or multiple successive scans over component subsets (libjpeg can emit
    a 3-component file as three single-component scans)."""
    w, h, comps = frame
    hmax = max(c[1] for c in comps)
    vmax = max(c[2] for c in comps)
    grid_all: dict[int, tuple[int, int]] = {}
    coeffs_all: dict[int, object] = {}
    while True:
        pos = _sequential_scan(
            content, pos, seg, frame, t, grid_all, coeffs_all
        )
        if len(coeffs_all) == len(comps):
            return _finish(coeffs_all, grid_all, comps, t, w, h, hmax, vmax)
        # more scans must follow: DHT/DQT/DRI may be redefined between them
        seg = None
        while seg is None:
            if pos + 2 > len(content):
                raise ValueError("malformed JPEG: missing EOI")
            if content[pos] != 0xFF:
                raise ValueError("malformed JPEG: marker expected")
            pos = _skip_fill(content, pos)
            if pos + 2 > len(content):
                raise ValueError("malformed JPEG: missing EOI")
            m = content[pos + 1]
            pos += 2
            if m == EOI:
                raise ValueError(
                    "unsupported JPEG: not every component was coded"
                )
            if _standalone(m):
                continue
            ln = _u16(content, pos)
            body = content[pos + 2 : pos + ln]
            if len(body) != ln - 2:
                raise ValueError("malformed JPEG: truncated segment")
            pos += ln
            if m == DHT:
                _parse_dht(body, t)
            elif m == DQT:
                _parse_dqt(body, t)
            elif m == DRI:
                t.restart_interval = _u16(body, 0)
            elif m == SOS:
                seg = body
            elif m in (0xC0, 0xC1, 0xC2):
                raise ValueError("malformed JPEG: second SOF")


def _sequential_scan(content, pos, seg, frame, t, grid_all, coeffs_all):
    """Decode ONE sequential scan into the shared coefficient buffers;
    returns the offset of the terminating marker."""
    w, h, comps = frame
    if len(seg) < 1 or len(seg) < 1 + 2 * seg[0] + 3:
        raise ValueError("malformed JPEG: truncated SOS")
    ns = seg[0]
    scan = []  # (comp_index, dc_table, ac_table)
    for i in range(ns):
        cs, td_ta = seg[1 + 2 * i], seg[2 + 2 * i]
        try:
            ci = next(j for j, c in enumerate(comps) if c[0] == cs)
        except StopIteration:
            raise ValueError("malformed JPEG: SOS references unknown component")
        td, ta = td_ta >> 4, td_ta & 0x0F
        if td not in t.huff_dc or ta not in t.huff_ac:
            raise ValueError("malformed JPEG: SOS references missing DHT")
        scan.append((ci, t.huff_dc[td], t.huff_ac[ta]))
    for _, _, _, tq in comps:
        if tq not in t.quant:
            raise ValueError("malformed JPEG: missing DQT")

    segs, end_pos = _split_ecs(content, pos)
    hmax = max(c[1] for c in comps)
    vmax = max(c[2] for c in comps)

    if ns == 1:
        ci = scan[0][0]
        _, ch, cv, _ = comps[ci]
        cw = -(-w * ch // hmax)
        chh = -(-h * cv // vmax)
        bx, by = -(-cw // 8), -(-chh // 8)
        grid = {ci: (by, bx)}
        mcus = bx * by
        per_mcu = [(ci, 1, 1)]
    else:
        mx = -(-w // (8 * hmax))
        my = -(-h // (8 * vmax))
        grid = {c: (my * comps[c][2], mx * comps[c][1]) for c, _, _ in scan}
        mcus = mx * my
        per_mcu = [(c, comps[c][1], comps[c][2]) for c, _, _ in scan]

    # corrupt-dimension guard (geotiff.py lesson): each coded block costs
    # >=2 bits (a DC code plus an EOB), so the declared geometry cannot
    # exceed 4x the entropy byte budget in blocks.
    total_blocks = mcus * sum(bh * bv for _, bh, bv in per_mcu)
    budget = sum(len(s) for s in segs) * 4 + 64
    if total_blocks > budget:
        raise ValueError(
            "malformed JPEG: dimensions inconsistent with entropy data "
            f"({total_blocks} blocks declared, {budget} block budget)"
        )

    coeffs = {c: np.zeros((gy * gx, 64), dtype=np.int32)
              for c, (gy, gx) in grid.items()}
    grid_all.update(grid)
    coeffs_all.update(coeffs)
    ri = t.restart_interval
    seg_i = 0
    rd = _EntropyReader(segs[0])
    pred = dict.fromkeys(coeffs, 0)
    table_by_comp = {c: (dc, ac) for c, dc, ac in scan}

    for mcu in range(mcus):
        if ri and mcu and mcu % ri == 0:
            seg_i += 1
            if seg_i >= len(segs):
                raise ValueError("malformed JPEG: missing restart segment")
            rd = _EntropyReader(segs[seg_i])
            pred = dict.fromkeys(coeffs, 0)
        if ns == 1:
            gy, gx = grid[per_mcu[0][0]]
            mcu_row, mcu_col = divmod(mcu, gx)
        else:
            mcu_row, mcu_col = divmod(mcu, -(-w // (8 * hmax)))
        for c, bh, bv in per_mcu:
            dc_t, ac_t = table_by_comp[c]
            gy, gx = grid[c]
            for byy in range(bv):
                for bxx in range(bh):
                    if ns == 1:
                        row, col = mcu_row, mcu_col
                    else:
                        row = mcu_row * comps[c][2] + byy
                        col = mcu_col * comps[c][1] + bxx
                    blk = coeffs[c][row * gx + col]
                    # DC
                    s = rd.decode(dc_t)
                    if s > 11:
                        raise ValueError("malformed JPEG: DC category > 11")
                    diff = _extend(rd.read_bits(s), s)
                    pred[c] += diff
                    blk[0] = pred[c]
                    # AC
                    k = 1
                    while k < 64:
                        rs = rd.decode(ac_t)
                        r, size = rs >> 4, rs & 0x0F
                        if size == 0:
                            if r == 15:  # ZRL
                                k += 16
                                continue
                            break  # EOB
                        k += r
                        if k > 63:
                            raise ValueError("malformed JPEG: AC index > 63")
                        blk[ZIGZAG[k]] = _extend(rd.read_bits(size), size)
                        k += 1

    return end_pos


def _finish(coeffs, grid, comps, t, w, h, hmax, vmax):
    """Back half: dequantize + IDCT (vectorized per component),
    assemble block grids into planes, upsample chroma, color-convert."""
    if len(coeffs) != len(comps):
        raise ValueError(
            "unsupported JPEG: not every component was coded by a scan"
        )
    planes = {}
    for c, (gy, gx) in grid.items():
        q = t.quant[comps[c][3]]
        f = (coeffs[c].astype(np.float64) * q[None, :]).reshape(-1, 8, 8)
        pix = np.einsum("ij,njk,kl->nil", _A.T, f, _A) + 128.0
        pix = np.clip(np.round(pix), 0, 255).astype(np.uint8)
        plane = (
            pix.reshape(gy, gx, 8, 8)
            .transpose(0, 2, 1, 3)
            .reshape(gy * 8, gx * 8)
        )
        _, ch, cv, _ = comps[c]
        cw = -(-w * ch // hmax)
        chh = -(-h * cv // vmax)
        plane = plane[:chh, :cw]
        if ch != hmax or cv != vmax:
            if hmax % ch or vmax % cv:
                raise ValueError("unsupported JPEG: non-integer upsampling")
            plane = np.repeat(np.repeat(plane, vmax // cv, 0), hmax // ch, 1)
        planes[c] = plane[:h, :w]

    if len(comps) == 1:
        return planes[0]
    if len(comps) != 3:
        raise ValueError(f"unsupported JPEG: {len(comps)} components")
    y = planes[0].astype(np.float64)
    cb = planes[1].astype(np.float64) - 128.0
    cr = planes[2].astype(np.float64) - 128.0
    rgb = np.stack(
        [
            y + 1.402 * cr,
            y - 0.344136 * cb - 0.714136 * cr,
            y + 1.772 * cb,
        ],
        axis=-1,
    )
    return np.clip(np.round(rgb), 0, 255).astype(np.uint8)


def split_jpeg_tables(blob: bytes) -> tuple[bytes, bytes]:
    """Split a full interchange stream into (tables, abbreviated image):
    DQT/DHT/DRI move to a ``SOI <tables> EOI`` stream, everything else
    stays — the layout TIFF compression 7 stores in its ``JPEGTables``
    tag (TIFF-EP / TechNote 2), with per-tile streams carrying only
    SOF/SOS + entropy data."""
    if len(blob) < 4 or blob[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG")
    tables = bytearray(b"\xff\xd8")
    image = bytearray(b"\xff\xd8")
    pos = 2
    while pos + 4 <= len(blob):
        if blob[pos] != 0xFF:
            raise ValueError("malformed JPEG: marker expected")
        pos = _skip_fill(blob, pos)
        if pos + 2 > len(blob):  # tail was all fill bytes
            raise ValueError("malformed JPEG: truncated after fill bytes")
        m = blob[pos + 1]
        if m == EOI:
            break
        if _standalone(m):  # TEM/RSTn: no length field, belongs to neither
            pos += 2
            continue
        ln = _u16(blob, pos + 2)
        seg = blob[pos : pos + 2 + ln]
        if len(seg) != 2 + ln:
            raise ValueError("malformed JPEG: truncated segment")
        (tables if m in (DQT, DHT, DRI) else image).extend(seg)
        pos += 2 + ln
        if m == SOS:
            image += blob[pos:]  # entropy data through EOI
            tables += b"\xff\xd9"
            return bytes(tables), bytes(image)
    raise ValueError("malformed JPEG: no SOS marker")


# ---------------------------------------------------------------- encoder


class _EntropyWriter:
    """MSB-first bit writer with 0xFF byte stuffing (T.81 B.1.1.5)."""

    def __init__(self):
        self.out = bytearray()
        self.acc = 0
        self.n = 0

    def write(self, code: int, length: int) -> None:
        self.acc = (self.acc << length) | (code & ((1 << length) - 1))
        self.n += length
        while self.n >= 8:
            b = (self.acc >> (self.n - 8)) & 0xFF
            self.out.append(b)
            if b == 0xFF:
                self.out.append(0x00)
            self.n -= 8
        self.acc &= (1 << self.n) - 1

    def align(self) -> None:
        if self.n:
            self.write((1 << (8 - self.n)) - 1, 8 - self.n)


def _quality_tables(quality: int) -> tuple[np.ndarray, np.ndarray]:
    """IJG quality scaling of the Annex K tables (natural order)."""
    q = min(100, max(1, int(quality)))
    scale = 5000 // q if q < 50 else 200 - 2 * q
    out = []
    for base in (QUANT_LUMA, QUANT_CHROMA):
        tbl = (base * scale + 50) // 100
        out.append(np.clip(tbl, 1, 255).astype(np.int64))
    return out[0], out[1]


def _magnitude(v: int) -> int:
    return int(v).bit_length() if v >= 0 else int(-v).bit_length()


def _encode_blocks(
    wtr: _EntropyWriter,
    blk: np.ndarray,
    pred: int,
    dc_tab: dict,
    ac_tab: dict,
) -> int:
    """Huffman-encode one quantized block (zigzag order); returns new DC
    predictor."""
    dc = int(blk[0])
    diff = dc - pred
    s = _magnitude(diff)
    code, ln = dc_tab[s]
    wtr.write(code, ln)
    if s:
        wtr.write(diff if diff >= 0 else diff + (1 << s) - 1, s)
    run = 0
    nz = np.nonzero(blk[1:])[0]
    last = int(nz[-1]) + 1 if len(nz) else 0
    for k in range(1, last + 1):
        v = int(blk[k])
        if v == 0:
            run += 1
            continue
        while run > 15:
            code, ln = ac_tab[0xF0]  # ZRL
            wtr.write(code, ln)
            run -= 16
        s = _magnitude(v)
        code, ln = ac_tab[(run << 4) | s]
        wtr.write(code, ln)
        wtr.write(v if v >= 0 else v + (1 << s) - 1, s)
        run = 0
    if last < 63:
        code, ln = ac_tab[0x00]  # EOB
        wtr.write(code, ln)
    return dc


def _plane_blocks(plane: np.ndarray, q: np.ndarray) -> np.ndarray:
    """Pad (edge-replicate) to 8-multiples, DCT, quantize, zigzag ->
    (rows_b, cols_b, 64) int32."""
    h, w = plane.shape
    ph, pw = -(-h // 8) * 8, -(-w // 8) * 8
    p = np.pad(plane.astype(np.float64) - 128.0,
               ((0, ph - h), (0, pw - w)), mode="edge")
    blocks = (
        p.reshape(ph // 8, 8, pw // 8, 8).transpose(0, 2, 1, 3)
        .reshape(-1, 8, 8)
    )
    f = np.einsum("ij,njk,kl->nil", _A, blocks, _A.T).reshape(-1, 64)
    qd = np.round(f / q[None, :]).astype(np.int32)
    return qd[:, ZIGZAG].reshape(ph // 8, pw // 8, 64)


def encode_jpeg_baseline(
    arr: np.ndarray,
    quality: int = 85,
    subsampling: str = "4:4:4",
    restart_interval: int = 0,
) -> bytes:
    """Spec-conformant baseline JFIF encoder for uint8 grayscale (h, w)
    or RGB (h, w, 3) — the fixture side proving every decoder path
    (Annex K tables, IJG quality scale, optional 4:2:0 + DRI/RSTn)."""
    a = np.asarray(arr)
    if a.dtype != np.uint8 or a.ndim not in (2, 3):
        raise ValueError("need uint8 (h, w) or (h, w, 3)")
    gray = a.ndim == 2
    if not gray and a.shape[2] != 3:
        raise ValueError("need 3 channels for color")
    if subsampling not in ("4:4:4", "4:2:2", "4:2:0"):
        raise ValueError("subsampling must be 4:4:4, 4:2:2 or 4:2:0")
    h, w = a.shape[:2]
    if h == 0 or w == 0 or h > 65535 or w > 65535:
        raise ValueError("bad dimensions")
    ql, qc = _quality_tables(quality)

    if gray:
        planes = [a]
        samp = [(1, 1)]
        qids = [0]
    else:
        rf = a.astype(np.float64)
        y = 0.299 * rf[..., 0] + 0.587 * rf[..., 1] + 0.114 * rf[..., 2]
        cb = 128.0 - 0.168736 * rf[..., 0] - 0.331264 * rf[..., 1] + 0.5 * rf[..., 2]
        cr = 128.0 + 0.5 * rf[..., 0] - 0.418688 * rf[..., 1] - 0.081312 * rf[..., 2]
        y, cb, cr = (np.clip(np.round(p), 0, 255) for p in (y, cb, cr))
        if subsampling == "4:2:0":
            eh, ew = -(-h // 2) * 2, -(-w // 2) * 2
            def down(p):
                pp = np.pad(p, ((0, eh - h), (0, ew - w)), mode="edge")
                return pp.reshape(eh // 2, 2, ew // 2, 2).mean((1, 3))
            planes = [y, down(cb), down(cr)]
            samp = [(2, 2), (1, 1), (1, 1)]
        elif subsampling == "4:2:2":
            ew = -(-w // 2) * 2
            def down(p):
                pp = np.pad(p, ((0, 0), (0, ew - w)), mode="edge")
                return pp.reshape(h, ew // 2, 2).mean(2)
            planes = [y, down(cb), down(cr)]
            samp = [(2, 1), (1, 1), (1, 1)]
        else:
            planes = [y, cb, cr]
            samp = [(1, 1), (1, 1), (1, 1)]
        qids = [0, 1, 1]

    hmax = max(s[0] for s in samp)
    vmax = max(s[1] for s in samp)
    mx, my = -(-w // (8 * hmax)), -(-h // (8 * vmax))
    qtabs = [ql, qc]
    comp_blocks = []
    for p, (sh, sv), qi in zip(planes, samp, qids):
        b = _plane_blocks(p, qtabs[qi])
        # pad block grid to the MCU lattice (edge blocks replicate)
        need_r, need_c = my * sv, mx * sh
        gr, gc = b.shape[:2]
        if gr < need_r or gc < need_c:
            b = np.pad(b, ((0, need_r - gr), (0, need_c - gc), (0, 0)),
                       mode="edge")
        comp_blocks.append(b)

    dc_l = _build_encode_table(DC_LUMA_BITS, DC_LUMA_VALS)
    ac_l = _build_encode_table(AC_LUMA_BITS, AC_LUMA_VALS)
    dc_c = _build_encode_table(DC_CHROMA_BITS, DC_CHROMA_VALS)
    ac_c = _build_encode_table(AC_CHROMA_BITS, AC_CHROMA_VALS)
    enc_tabs = [(dc_l, ac_l)] + [(dc_c, ac_c)] * (len(planes) - 1)

    wtr = _EntropyWriter()
    pred = [0] * len(planes)
    rst = 0
    for mcu in range(mx * my):
        if restart_interval and mcu and mcu % restart_interval == 0:
            wtr.align()
            wtr.out.append(0xFF)
            wtr.out.append(0xD0 + (rst & 7))
            rst += 1
            pred = [0] * len(planes)
        mr, mc = divmod(mcu, mx)
        for ci, ((sh, sv), (dct, act)) in enumerate(zip(samp, enc_tabs)):
            for byy in range(sv):
                for bxx in range(sh):
                    blk = comp_blocks[ci][mr * sv + byy, mc * sh + bxx]
                    pred[ci] = _encode_blocks(wtr, blk, pred[ci], dct, act)
    wtr.align()

    out = bytearray(b"\xff\xd8")  # SOI
    out += (
        b"\xff\xe0" + struct.pack(">H", 16)
        + b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00"
    )

    def seg(marker: int, body: bytes) -> bytes:
        return bytes([0xFF, marker]) + struct.pack(">H", len(body) + 2) + body

    zz_l = np.zeros(64, np.uint8); zz_l[:] = ql[ZIGZAG]
    out += seg(DQT, b"\x00" + zz_l.tobytes())
    if not gray:
        zz_c = np.zeros(64, np.uint8); zz_c[:] = qc[ZIGZAG]
        out += seg(DQT, b"\x01" + zz_c.tobytes())

    sof = bytearray(struct.pack(">BHHB", 8, h, w, len(planes)))
    for i, (sh, sv) in enumerate(samp):
        sof += bytes([i + 1, (sh << 4) | sv, qids[i]])
    out += seg(0xC0, bytes(sof))

    def dht(tc, th, bits, vals):
        return seg(DHT, bytes([(tc << 4) | th] + bits + vals))

    out += dht(0, 0, DC_LUMA_BITS, DC_LUMA_VALS)
    out += dht(1, 0, AC_LUMA_BITS, AC_LUMA_VALS)
    if not gray:
        out += dht(0, 1, DC_CHROMA_BITS, DC_CHROMA_VALS)
        out += dht(1, 1, AC_CHROMA_BITS, AC_CHROMA_VALS)
    if restart_interval:
        out += seg(DRI, struct.pack(">H", restart_interval))

    sos = bytearray([len(planes)])
    for i in range(len(planes)):
        sos += bytes([i + 1, 0x00 if i == 0 else 0x11])
    sos += b"\x00\x3f\x00"
    out += seg(SOS, bytes(sos))
    out += wtr.out
    out += b"\xff\xd9"  # EOI
    return bytes(out)
