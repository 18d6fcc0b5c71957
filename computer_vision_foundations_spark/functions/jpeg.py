"""Dependency-free baseline JPEG codec (encode + decode), numpy + stdlib.

Round 2 left exactly one fake-decode path in the image UDFs: JPEG
*pixel* statistics without Pillow (`functions/image.py`). This module
closes it with a real ITU-T T.81 codec:

- ``decode_jpeg``: full entropy decode — marker parse (DQT/SOF0/DHT/
  DRI/SOS), table-driven Huffman decode of the scan stream with
  RST-interval predictor resets, dequantize, vectorized 2-D IDCT over
  all blocks per component, sampling-factor upsample (4:4:4 / 4:2:0 /
  anything the SOF declares), YCbCr→RGB. Returns uint8 pixels.
- ``encode_jpeg``: the inverse — level shift, (optional 4:2:0 chroma
  downsample), vectorized forward DCT, quality-scaled Annex K quant
  tables, standard Annex K Huffman tables, byte stuffing, JFIF APP0.

Baseline sequential (SOF0/SOF1) and — since round 4 — progressive
(SOF2, T.81 Annex G: spectral selection + successive approximation
with EOB runs, DC/AC refinement passes, interleaved and
non-interleaved scans). ``encode_jpeg(progressive=True)`` emits the
libjpeg-shaped scan script carrying the IDENTICAL quantized
coefficients as the baseline stream, so progressive decode is
verifiable bit-for-bit against the independent baseline path.
Arithmetic coding and hierarchical frames raise ``ValueError`` so
callers can fall back; Pillow remains the fast path when installed
(`functions/image.py`).

Entropy decoding follows libjpeg's ``jdhuff.c`` (T.81 Annex F):
- Each DHT table becomes a 16-bit lookahead table, so one index by the
  next 16 bits of the stream yields a symbol and its code length; the
  table is memoized per (BITS, HUFFVAL), which nearly every file shares.
- A scan's entropy-coded data is located once: its end marker found,
  its byte stuffing removed and its RST markers split out, one plain
  buffer per restart interval. The bit reader refills 32 bits at a
  time from that buffer; baseline and progressive scans share it.
- The baseline inner loop keeps the bit buffer in local variables and
  writes coefficients into one flat int64 buffer per component, which
  numpy reads without a copy.

Truncation contract: a scan that needs more bits than its entropy-coded
data holds raises ``ValueError("truncated JPEG scan")``, whether the
data ends at EOF, at a trailing lone 0xFF or at a marker. The check
runs at least once per MCU row, so a short scan costs bounded time.
Dropping only the EOI marker loses nothing and decodes in full.

Header budget: a SOF declaring a zero dimension, more pixels than
``limits.MAX_DECODE_PIXELS``, a component count other than 1 or 3, or
sampling factors outside 1..4 raises ``ValueError`` before any
coefficient storage is allocated.

Reference parity: the decoded statistics feed the same declared schema
as the reference's PIL path (`02_Data Ingest.py:223-252`); the quant /
Huffman constants are the public tables from ITU-T T.81 Annex K.

Exactness property used by the SQL oracle (queries.py image-stats
query): at quality=100 every quant entry is 1, and an image made of
FLAT 8x8 blocks has a DC-only spectrum (DC = 8*(v-128), all AC = 0),
so encode→decode is bit-exact. That turns the whole entropy pipeline
into something DuckDB can replay from the source bytes.
"""

from __future__ import annotations

import functools
import struct

import numpy as np

from computer_vision_foundations_spark.functions.limits import MAX_DECODE_PIXELS

__all__ = ["encode_jpeg", "decode_jpeg"]

# --------------------------------------------------------------- constants

ZIGZAG = np.array([
     0,  1,  8, 16,  9,  2,  3, 10,
    17, 24, 32, 25, 18, 11,  4,  5,
    12, 19, 26, 33, 40, 48, 41, 34,
    27, 20, 13,  6,  7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36,
    29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46,
    53, 60, 61, 54, 47, 55, 62, 63,
], dtype=np.int32)

# ITU-T T.81 Annex K.1 / K.2 quantization tables (natural order).
QTAB_LUMA = np.array([
    16, 11, 10, 16, 24, 40, 51, 61,
    12, 12, 14, 19, 26, 58, 60, 55,
    14, 13, 16, 24, 40, 57, 69, 56,
    14, 17, 22, 29, 51, 87, 80, 62,
    18, 22, 37, 56, 68, 109, 103, 77,
    24, 35, 55, 64, 81, 104, 113, 92,
    49, 64, 78, 87, 103, 121, 120, 101,
    72, 92, 95, 98, 112, 100, 103, 99,
], dtype=np.int32)

QTAB_CHROMA = np.array([
    17, 18, 24, 47, 99, 99, 99, 99,
    18, 21, 26, 66, 99, 99, 99, 99,
    24, 26, 56, 99, 99, 99, 99, 99,
    47, 66, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
], dtype=np.int32)

# Annex K.3 Huffman specs: (BITS[1..16], HUFFVAL).
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

# Orthonormal 8-point DCT-II matrix: pixels = T.T @ coeffs @ T,
# coeffs = T @ pixels @ T.T, with DC = 8*mean for a flat block.
_T = np.zeros((8, 8))
for _u in range(8):
    _c = (1 / np.sqrt(2)) if _u == 0 else 1.0
    for _x in range(8):
        _T[_u, _x] = _c / 2 * np.cos((2 * _x + 1) * _u * np.pi / 16)
_T.setflags(write=False)


def _scale_qtab(base: np.ndarray, quality: int) -> np.ndarray:
    """IJG quality scaling: 50 = Annex K as-is, 100 = all ones."""
    quality = min(100, max(1, int(quality)))
    s = 5000 // quality if quality < 50 else 200 - 2 * quality
    q = (base * s + 50) // 100
    return np.clip(q, 1, 255).astype(np.int32)


# --------------------------------------------------------------- Huffman


def _canonical_codes(bits: list[int], vals: list[int]) -> dict[int, tuple[int, int]]:
    """symbol -> (code, length) per the canonical construction."""
    codes: dict[int, tuple[int, int]] = {}
    code = 0
    k = 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            codes[vals[k]] = (code, length)
            code += 1
            k += 1
        code <<= 1
    return codes


@functools.lru_cache(maxsize=16)
def _decode_table(bits: bytes, vals: bytes) -> tuple[int, ...]:
    """16-bit lookahead table (T.81 Annex C codes, as libjpeg's
    ``jdhuff.c`` uses them): indexed by the next 16 bits of the stream,
    an entry is ``(code length << 8) | symbol``, and 0 marks bits that
    start no code. Memoized, because nearly every file carries the same
    Annex K tables."""
    if len(bits) != 16 or len(vals) < sum(bits):
        raise ValueError("short DHT segment")
    table = [0] * 65536
    code = 0
    k = 0
    for length in range(1, 17):
        span = 1 << (16 - length)
        for _ in range(bits[length - 1]):
            if code >= 1 << length:  # over-subscribed: no longer codes fit
                return tuple(table)
            table[code * span : (code + 1) * span] = [(length << 8) | vals[k]] * span
            code += 1
            k += 1
        code <<= 1
    return tuple(table)


class _BitWriter:
    def __init__(self) -> None:
        self.out = bytearray()
        self.acc = 0
        self.nbits = 0

    def put(self, code: int, length: int) -> None:
        self.acc = (self.acc << length) | (code & ((1 << length) - 1))
        self.nbits += length
        while self.nbits >= 8:
            self.nbits -= 8
            b = (self.acc >> self.nbits) & 0xFF
            self.out.append(b)
            if b == 0xFF:  # byte stuffing
                self.out.append(0x00)

    def flush(self) -> None:
        if self.nbits:
            pad = 8 - self.nbits
            self.put((1 << pad) - 1, pad)  # 1-fill per spec


_TRUNCATED = "truncated JPEG scan"


def _entropy_segments(data: bytes, pos: int) -> tuple[list[bytes], int]:
    """Split the entropy-coded data starting at ``pos`` at its RST
    markers and remove the 0xFF00 byte stuffing: one buffer per restart
    interval. Also returns where the marker that ends the scan starts
    (its last 0xFF when fill bytes precede it), or ``len(data)`` when
    the data runs to EOF; a lone 0xFF at EOF is not data."""
    n = len(data)
    out = []
    start = pos
    i = data.find(b"\xff", pos)
    while i != -1:
        j = i + 1
        while j < n and data[j] == 0xFF:  # fill bytes before a marker
            j += 1
        if j == n:
            break
        if data[j] == 0x00 and j == i + 1:  # stuffed 0xFF
            i = data.find(b"\xff", j + 1)
            continue
        out.append(data[start:i].replace(b"\xff\x00", b"\xff"))
        if not 0xD0 <= data[j] <= 0xD7:
            return out, j - 1
        start = j + 1
        i = data.find(b"\xff", start)
    out.append(data[start : n if i == -1 else i].replace(b"\xff\x00", b"\xff"))
    return out, n


class _BitReader:
    """MSB-first bit reader over one scan's de-stuffed restart intervals
    (``_entropy_segments``), refilled 32 bits at a time. Reading past an
    interval's end yields zero bits; ``check`` turns having consumed any
    of them into ``ValueError("truncated JPEG scan")``. The baseline
    decoder keeps the same state in local variables."""

    def __init__(self, data: bytes, pos: int) -> None:
        self.intervals, self.end = _entropy_segments(data, pos)
        self.load(0)

    def load(self, i: int) -> None:
        """Start restart interval ``i`` with an empty bit buffer."""
        if i >= len(self.intervals):
            raise ValueError(_TRUNCATED)
        seg = self.intervals[i]
        self.index = i
        self.buf = seg + bytes(-len(seg) % 4)  # whole 32-bit refills
        self.limit = 8 * len(seg)
        self.pos = self.acc = self.nbits = 0

    def check(self) -> None:
        if 8 * self.pos - self.nbits > self.limit:
            raise ValueError(_TRUNCATED)

    def restart(self) -> None:
        """Finish the current restart interval and start the next."""
        self.check()
        self.load(self.index + 1)

    def _refill(self) -> None:
        self.acc = ((self.acc & ((1 << self.nbits) - 1)) << 32) | int.from_bytes(
            self.buf[self.pos : self.pos + 4], "big"
        )
        self.pos += 4
        self.nbits += 32

    def bits(self, n: int) -> int:
        """The next ``n`` (at most 16) bits."""
        if self.nbits < n:
            self._refill()
        self.nbits -= n
        return (self.acc >> self.nbits) & ((1 << n) - 1)

    def symbol(self, table: tuple[int, ...]) -> int:
        if self.nbits < 16:
            self._refill()
        e = table[(self.acc >> (self.nbits - 16)) & 0xFFFF]
        if not e:
            raise ValueError("bad Huffman code")
        self.nbits -= e >> 8
        return e & 0xFF


def _extend(v: int, size: int) -> int:
    """T.81 F.2.2.1 sign extension of a SIZE-bit magnitude."""
    if size == 0:
        return 0
    return v if v >= (1 << (size - 1)) else v - (1 << size) + 1


def _magnitude(v: int) -> tuple[int, int]:
    """value -> (size, size-bit code) for DC/AC encoding."""
    if v == 0:
        return 0, 0
    a = abs(v)
    size = a.bit_length()
    code = v if v > 0 else v + (1 << size) - 1
    return size, code


# --------------------------------------------------------------- encode


def _fdct_blocks(plane: np.ndarray) -> np.ndarray:
    """(n_by, n_bx, 8, 8) DCT coefficients for a level-shifted plane
    whose dims are multiples of 8 — one einsum over all blocks."""
    h, w = plane.shape
    blocks = plane.reshape(h // 8, 8, w // 8, 8).transpose(0, 2, 1, 3)
    return np.einsum("ux,byxz,vz->byuv", _T, blocks, _T, optimize=True)


def _idct_blocks(coef: np.ndarray) -> np.ndarray:
    """Inverse of `_fdct_blocks`: (n_by, n_bx, 8, 8) -> plane."""
    px = np.einsum("ux,byuv,vz->byxz", _T, coef, _T, optimize=True)
    n_by, n_bx = px.shape[:2]
    return px.transpose(0, 2, 1, 3).reshape(n_by * 8, n_bx * 8)


def _pad_to_block(plane: np.ndarray, bh: int, bw: int) -> np.ndarray:
    """Edge-replicate to multiples of (bh, bw)."""
    h, w = plane.shape
    ph = (-h) % bh
    pw = (-w) % bw
    return np.pad(plane, ((0, ph), (0, pw)), mode="edge")


def _encode_component_blocks(
    coef: np.ndarray, qtab: np.ndarray
) -> np.ndarray:
    """Quantize (n_by, n_bx, 8, 8) coefficients -> int32 zigzag rows
    (n_blocks, 64) in raster block order."""
    q = qtab.reshape(8, 8).astype(np.float64)
    quant = np.round(coef / q).astype(np.int32)
    return quant.reshape(-1, 64)[:, ZIGZAG]


def _huff_encode_block(
    w: _BitWriter,
    zz: np.ndarray,
    pred: int,
    dc_codes: dict[int, tuple[int, int]],
    ac_codes: dict[int, tuple[int, int]],
) -> int:
    diff = int(zz[0]) - pred
    size, code = _magnitude(diff)
    c, ln = dc_codes[size]
    w.put(c, ln)
    if size:
        w.put(code, size)
    run = 0
    last_nz = 0
    nz = np.nonzero(zz[1:])[0]
    last_nz = nz[-1] + 1 if len(nz) else 0
    for k in range(1, last_nz + 1):
        v = int(zz[k])
        if v == 0:
            run += 1
            continue
        while run > 15:
            c, ln = ac_codes[0xF0]  # ZRL
            w.put(c, ln)
            run -= 16
        size, code = _magnitude(v)
        c, ln = ac_codes[(run << 4) | size]
        w.put(c, ln)
        w.put(code, size)
        run = 0
    if last_nz < 63:
        c, ln = ac_codes[0x00]  # EOB
        w.put(c, ln)
    return int(zz[0])


# ------------------------------------------------------ progressive encode
#
# The libjpeg-shaped default script: DC first (Al=1) interleaved, AC
# bands per component (Al=1), then one successive-approximation
# refinement pass for DC and each component's AC band (Ah=1, Al=0).
# Exercises every decoder path: spectral selection, EOB runs, ZRL in
# refinement, and both DC/AC correction-bit algorithms (T.81 G.1.2).


def _enc_ac_first_block(bw, blk, ss, se, al, ac_codes) -> None:
    vals = []
    for k in range(ss, se + 1):
        v = int(blk[k])
        t = abs(v) >> al
        vals.append(t if v > 0 else -t)
    lastnz = -1
    for i, v in enumerate(vals):
        if v:
            lastnz = i
    run = 0
    for i in range(lastnz + 1):
        v = vals[i]
        if v == 0:
            run += 1
            continue
        while run > 15:
            c, ln = ac_codes[0xF0]
            bw.put(c, ln)
            run -= 16
        size, code = _magnitude(v)
        c, ln = ac_codes[(run << 4) | size]
        bw.put(c, ln)
        bw.put(code, size)
        run = 0
    if lastnz < len(vals) - 1:
        c, ln = ac_codes[0x00]  # EOB (run of exactly 1)
        bw.put(c, ln)


def _enc_ac_refine_block(bw, blk, ss, se, al, ac_codes) -> None:
    """Mirror of the T.81 G.1.2.3 decoder walk: A = already-significant
    (emit correction bit), B = newly significant at this bit (run
    symbol + sign), C = still zero (counts toward runs)."""
    ah = al + 1
    kinds = []
    for k in range(ss, se + 1):
        v = int(blk[k])
        a = abs(v)
        if (a >> ah) != 0:
            kinds.append(("A", (a >> al) & 1))
        elif (a >> al) != 0:
            kinds.append(("B", 1 if v > 0 else 0))
        else:
            kinds.append(("C", 0))
    i, n = 0, len(kinds)
    while i < n:
        j, run, next_b = i, 0, -1
        while j < n:
            t = kinds[j][0]
            if t == "C":
                run += 1
            elif t == "B":
                next_b = j
                break
            j += 1
        if next_b == -1:
            c, ln = ac_codes[0x00]  # EOB + the band's remaining A bits
            bw.put(c, ln)
            for t, b in kinds[i:]:
                if t == "A":
                    bw.put(b, 1)
            return
        while run > 15:
            c, ln = ac_codes[0xF0]  # ZRL consumes exactly 16 C's
            bw.put(c, ln)
            eaten = 0
            while eaten < 16:
                t, b = kinds[i]
                if t == "C":
                    eaten += 1
                elif t == "A":
                    bw.put(b, 1)
                i += 1
            run -= 16
        c, ln = ac_codes[(run << 4) | 1]
        bw.put(c, ln)
        bw.put(kinds[next_b][1], 1)  # sign: 1 = +1<<Al
        for t, b in kinds[i:next_b]:
            if t == "A":
                bw.put(b, 1)
        i = next_b + 1


def _prog_entropy_scans(zz_per_comp, samp, nblocks, gray: bool, h: int, w: int):
    """Yield (scan_comp_indices, ss, se, ah, al, entropy_bytes) for the
    progressive scan script."""
    hmax = max(s[0] for s in samp)
    vmax = max(s[1] for s in samp)
    # Non-interleaved AC scans iterate each component's TRUE block grid
    # (ceil(sampled dim / 8)); the storage grid is MCU-padded and may be
    # larger — the decoder never reads AC for padded blocks.
    def _ceil_div(a: int, b: int) -> int:
        return -(-a // b)

    _true_dims = [
        (_ceil_div(_ceil_div(h * sv, vmax), 8), _ceil_div(_ceil_div(w * sh, hmax), 8))
        for sh, sv in samp
    ]
    dc_y = _canonical_codes(DC_LUMA_BITS, DC_LUMA_VALS)
    ac_y = _canonical_codes(AC_LUMA_BITS, AC_LUMA_VALS)
    dc_c = _canonical_codes(DC_CHROMA_BITS, DC_CHROMA_VALS)
    ac_c = _canonical_codes(AC_CHROMA_BITS, AC_CHROMA_VALS)
    dc_tabs = [dc_y] + [dc_c] * (len(samp) - 1)
    ac_tabs = [ac_y] + [ac_c] * (len(samp) - 1)
    mcu_rows = (nblocks[0][0] + samp[0][1] - 1) // samp[0][1]
    mcu_cols = (nblocks[0][1] + samp[0][0] - 1) // samp[0][0]

    def dc_scan(al_shift: int, refine: bool) -> bytes:
        bw = _BitWriter()
        preds = [0] * len(samp)
        for mr in range(mcu_rows):
            for mc in range(mcu_cols):
                for ci, (sh, sv) in enumerate(samp):
                    for by in range(sv):
                        for bx in range(sh):
                            r = min(mr * sv + by, nblocks[ci][0] - 1)
                            c = min(mc * sh + bx, nblocks[ci][1] - 1)
                            dc = int(zz_per_comp[ci][r, c, 0])
                            if refine:
                                bw.put((dc >> al_shift) & 1, 1)
                            else:
                                v = dc >> al_shift  # arithmetic (DC point transform)
                                diff = v - preds[ci]
                                preds[ci] = v
                                size, code = _magnitude(diff)
                                hc, ln = dc_tabs[ci][size]
                                bw.put(hc, ln)
                                if size:
                                    bw.put(code, size)
        bw.flush()
        return bytes(bw.out)

    def ac_scan(ci: int, ss: int, se: int, al_shift: int, refine: bool) -> bytes:
        bw = _BitWriter()
        nby, nbx = _true_dims[ci]
        for by in range(nby):
            for bx in range(nbx):
                blk = zz_per_comp[ci][by, bx]
                if refine:
                    _enc_ac_refine_block(bw, blk, ss, se, al_shift, ac_tabs[ci])
                else:
                    _enc_ac_first_block(bw, blk, ss, se, al_shift, ac_tabs[ci])
        bw.flush()
        return bytes(bw.out)

    all_comps = list(range(len(samp)))
    yield (all_comps, 0, 0, 0, 1, dc_scan(1, False))
    if gray:
        yield ([0], 1, 63, 0, 1, ac_scan(0, 1, 63, 1, False))
    else:
        yield ([0], 1, 5, 0, 1, ac_scan(0, 1, 5, 1, False))
        yield ([0], 6, 63, 0, 1, ac_scan(0, 6, 63, 1, False))
        yield ([1], 1, 63, 0, 1, ac_scan(1, 1, 63, 1, False))
        yield ([2], 1, 63, 0, 1, ac_scan(2, 1, 63, 1, False))
    yield (all_comps, 0, 0, 1, 0, dc_scan(0, True))
    for ci in all_comps:
        yield ([ci], 1, 63, 1, 0, ac_scan(ci, 1, 63, 0, True))


def _rgb_to_ycbcr(px: np.ndarray) -> np.ndarray:
    r, g, b = px[..., 0], px[..., 1], px[..., 2]
    y = 0.299 * r + 0.587 * g + 0.114 * b
    cb = 128.0 - 0.168735892 * r - 0.331264108 * g + 0.5 * b
    cr = 128.0 + 0.5 * r - 0.418687589 * g - 0.081312411 * b
    return np.stack([y, cb, cr], axis=-1)


def _ycbcr_to_rgb(y: np.ndarray, cb: np.ndarray, cr: np.ndarray) -> np.ndarray:
    r = y + 1.402 * (cr - 128.0)
    g = y - 0.344136286 * (cb - 128.0) - 0.714136286 * (cr - 128.0)
    b = y + 1.772 * (cb - 128.0)
    return np.clip(np.round(np.stack([r, g, b], axis=-1)), 0, 255).astype(np.uint8)


def encode_jpeg(
    pixels: np.ndarray,
    *,
    quality: int = 90,
    subsampling: str = "444",
    dpi: tuple[int, int] | None = None,
    app1: bytes | None = None,
    restart_interval: int = 0,
    progressive: bool = False,
) -> bytes:
    """JPEG bytes for (h, w) grayscale or (h, w, 3) RGB uint8 pixels —
    baseline sequential (SOF0) by default, progressive (SOF2, the
    libjpeg-shaped spectral-selection + successive-approximation scan
    script) with ``progressive=True``. Both transmit the IDENTICAL
    quantized coefficients, so the two decode bit-for-bit equal.
    ``subsampling``: '444' or '420' (color only). ``app1``: raw APP1
    payload (e.g. an Exif TIFF blob) inserted after APP0 so
    `png.parse_jpeg_exif` round-trips."""
    if progressive and restart_interval:
        raise ValueError("restart markers unsupported with progressive=True")
    px = np.asarray(pixels)
    if px.dtype != np.uint8:
        raise ValueError("pixels must be uint8")
    gray = px.ndim == 2
    if not gray and (px.ndim != 3 or px.shape[2] != 3):
        raise ValueError("pixels must be (h, w) or (h, w, 3)")
    if subsampling not in ("444", "422", "420"):
        raise ValueError("subsampling must be '444', '422' or '420'")
    h, w = px.shape[:2]
    if h == 0 or w == 0:
        raise ValueError("empty image")
    qy = _scale_qtab(QTAB_LUMA, quality)
    qc = _scale_qtab(QTAB_CHROMA, quality)

    if gray:
        planes = [px.astype(np.float64) - 128.0]
        samp = [(1, 1)]
        qsel = [0]
    else:
        ycc = _rgb_to_ycbcr(px.astype(np.float64))
        yp = ycc[..., 0] - 128.0
        cbp = ycc[..., 1] - 128.0
        crp = ycc[..., 2] - 128.0
        if subsampling == "420":
            def down2(p: np.ndarray) -> np.ndarray:
                p = _pad_to_block(p, 2, 2)
                return (p[0::2, 0::2] + p[0::2, 1::2] + p[1::2, 0::2] + p[1::2, 1::2]) / 4.0
            planes = [yp, down2(cbp), down2(crp)]
            samp = [(2, 2), (1, 1), (1, 1)]
        elif subsampling == "422":
            def down_h(p: np.ndarray) -> np.ndarray:
                p = _pad_to_block(p, 1, 2)
                return (p[:, 0::2] + p[:, 1::2]) / 2.0
            planes = [yp, down_h(cbp), down_h(crp)]
            samp = [(2, 1), (1, 1), (1, 1)]
        else:
            planes = [yp, cbp, crp]
            samp = [(1, 1), (1, 1), (1, 1)]
        qsel = [0, 1, 1]

    # Pad every plane so the block grid tiles whole MCUs.
    zz_per_comp = []
    nblocks = []
    for (sh, sv), plane in zip(samp, planes):
        plane = _pad_to_block(plane, 8, 8)
        # block grid must tile whole MCUs: pad to a multiple of (sv, sh) blocks
        nby = (-(plane.shape[0] // 8)) % sv
        nbx = (-(plane.shape[1] // 8)) % sh
        if nby or nbx:
            plane = np.pad(plane, ((0, nby * 8), (0, nbx * 8)), mode="edge")
        coef = _fdct_blocks(plane)
        q = (qy if qsel[len(zz_per_comp)] == 0 else qc)
        zz = _encode_component_blocks(coef, q)
        zz_per_comp.append(zz.reshape(coef.shape[0], coef.shape[1], 64))
        nblocks.append((coef.shape[0], coef.shape[1]))

    dc_y = _canonical_codes(DC_LUMA_BITS, DC_LUMA_VALS)
    ac_y = _canonical_codes(AC_LUMA_BITS, AC_LUMA_VALS)
    dc_c = _canonical_codes(DC_CHROMA_BITS, DC_CHROMA_VALS)
    ac_c = _canonical_codes(AC_CHROMA_BITS, AC_CHROMA_VALS)
    enc_tabs = [(dc_y, ac_y)] + [(dc_c, ac_c)] * (len(planes) - 1)

    if not progressive:
        bw = _BitWriter()
        preds = [0] * len(planes)
        mcu_rows = (nblocks[0][0] + samp[0][1] - 1) // samp[0][1]
        mcu_cols = (nblocks[0][1] + samp[0][0] - 1) // samp[0][0]
        mcu_count = 0
        for mr in range(mcu_rows):
            for mc in range(mcu_cols):
                if restart_interval and mcu_count and mcu_count % restart_interval == 0:
                    bw.flush()
                    bw.out += bytes([0xFF, 0xD0 + ((mcu_count // restart_interval - 1) % 8)])
                    preds = [0] * len(planes)
                mcu_count += 1
                for ci, (sh, sv) in enumerate(samp):
                    for by in range(sv):
                        for bx in range(sh):
                            r = min(mr * sv + by, nblocks[ci][0] - 1)
                            c = min(mc * sh + bx, nblocks[ci][1] - 1)
                            preds[ci] = _huff_encode_block(
                                bw, zz_per_comp[ci][r, c], preds[ci], *enc_tabs[ci]
                            )
        bw.flush()

    out = bytearray(b"\xff\xd8")  # SOI
    xd, yd = dpi if dpi else (0, 0)
    out += b"\xff\xe0" + struct.pack(
        ">H", 16
    ) + b"JFIF\x00\x01\x01" + bytes([1 if dpi else 0]) + struct.pack(">HH", xd, yd) + b"\x00\x00"
    if app1:
        out += b"\xff\xe1" + struct.pack(">H", len(app1) + 2) + app1

    def dqt(tid: int, tab: np.ndarray) -> bytes:
        return b"\xff\xdb" + struct.pack(">HB", 67, tid) + bytes(
            int(tab[z]) for z in ZIGZAG
        )

    out += dqt(0, qy)
    if not gray:
        out += dqt(1, qc)

    nf = len(planes)
    sof = struct.pack(">HBHHB", 8 + 3 * nf, 8, h, w, nf)
    for ci, (sh, sv) in enumerate(samp):
        sof += bytes([ci + 1, (sh << 4) | sv, qsel[ci]])
    out += (b"\xff\xc2" if progressive else b"\xff\xc0") + sof

    def dht(cls: int, tid: int, bits: list[int], vals: list[int]) -> bytes:
        return b"\xff\xc4" + struct.pack(">HB", 19 + len(vals), (cls << 4) | tid) + bytes(
            bits
        ) + bytes(vals)

    out += dht(0, 0, DC_LUMA_BITS, DC_LUMA_VALS)
    out += dht(1, 0, AC_LUMA_BITS, AC_LUMA_VALS)
    if not gray:
        out += dht(0, 1, DC_CHROMA_BITS, DC_CHROMA_VALS)
        out += dht(1, 1, AC_CHROMA_BITS, AC_CHROMA_VALS)

    if restart_interval:
        out += b"\xff\xdd" + struct.pack(">HH", 4, restart_interval)

    if progressive:
        for comp_idx, ss, se, ah, al, entropy in _prog_entropy_scans(
            zz_per_comp, samp, nblocks, gray, h, w
        ):
            ns = len(comp_idx)
            sos = struct.pack(">HB", 6 + 2 * ns, ns)
            for ci in comp_idx:
                tid = 0 if ci == 0 else 1
                sos += bytes([ci + 1, (tid << 4) | tid])
            sos += bytes([ss, se, (ah << 4) | al])
            out += b"\xff\xda" + sos
            out += entropy
    else:
        sos = struct.pack(">HB", 6 + 2 * nf, nf)
        for ci in range(nf):
            tid = 0 if ci == 0 else 1
            sos += bytes([ci + 1, (tid << 4) | tid])
        sos += bytes([0, 63, 0])
        out += b"\xff\xda" + sos
        out += bw.out
    out += b"\xff\xd9"  # EOI
    return bytes(out)


# --------------------------------------------------------------- decode


def decode_jpeg(data: bytes) -> dict:
    """Decode baseline or progressive JPEG bytes -> {'pixels': uint8
    (h, w) or (h, w, 3), 'mode': 'L'|'RGB'}. Raises ValueError on
    arithmetic / hierarchical / malformed / truncated streams and on
    frames over the pixel budget (callers fall back)."""
    data = bytes(data)  # hashable DHT slices for the table memo
    if not (len(data) > 3 and data[0] == 0xFF and data[1] == 0xD8):
        raise ValueError("not a JPEG")
    qtabs: dict[int, np.ndarray] = {}
    htabs: dict[tuple[int, int], tuple[int, ...]] = {}
    restart_interval = 0
    frame = None
    prog_state = None
    pos = 2
    n = len(data)
    while pos + 4 <= n:
        if data[pos] != 0xFF:
            pos += 1
            continue
        marker = data[pos + 1]
        if marker in (0xD8, 0x01) or 0xD0 <= marker <= 0xD7:
            pos += 2
            continue
        if marker == 0xD9:
            break
        seglen = struct.unpack(">H", data[pos + 2 : pos + 4])[0]
        seg = data[pos + 4 : pos + 2 + seglen]
        if marker == 0xDB:  # DQT
            i = 0
            while i < len(seg):
                prec = seg[i] >> 4
                tid = seg[i] & 0x0F
                i += 1
                if prec:
                    vals = np.frombuffer(seg[i : i + 128], dtype=">u2").astype(np.int32)
                    i += 128
                else:
                    vals = np.frombuffer(seg[i : i + 64], dtype=np.uint8).astype(np.int32)
                    i += 64
                nat = np.zeros(64, dtype=np.int32)
                nat[ZIGZAG] = vals
                qtabs[tid] = nat
        elif marker == 0xC4:  # DHT
            i = 0
            while i < len(seg):
                cls = seg[i] >> 4
                tid = seg[i] & 0x0F
                nv = sum(seg[i + 1 : i + 17])
                htabs[(cls, tid)] = _decode_table(seg[i + 1 : i + 17], seg[i + 17 : i + 17 + nv])
                i += 17 + nv
        elif marker in (0xC0, 0xC1, 0xC2):  # SOF0/1 baseline, SOF2 progressive
            frame = _parse_frame(seg, progressive=marker == 0xC2)
        elif marker in (0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA, 0xCB, 0xCD, 0xCE, 0xCF):
            raise ValueError("non-baseline JPEG frame")
        elif marker == 0xDD:  # DRI
            restart_interval = struct.unpack(">H", seg[0:2])[0]
        elif marker == 0xDA:  # SOS
            if frame is None:
                raise ValueError("SOS before SOF")
            ns = seg[0]
            scan = []
            for ci in range(ns):
                cs, tabs = seg[1 + 2 * ci], seg[2 + 2 * ci]
                comp = next((c for c in frame["comps"] if c["id"] == cs), None)
                if comp is None:
                    raise ValueError(f"SOS names undeclared component {cs}")
                scan.append((comp, tabs >> 4, tabs & 0x0F))
            if not frame["progressive"]:
                if ns != len(frame["comps"]):
                    # non-interleaved baseline (one scan per component) is
                    # legal T.81 but unsupported here — raise so callers
                    # fall back instead of silently returning the Y plane
                    raise ValueError(
                        "multi-scan (non-interleaved) JPEG not supported"
                    )
                return _decode_scan(
                    data, pos + 2 + seglen, frame, scan, qtabs, htabs,
                    restart_interval,
                )
            ss, se = seg[1 + 2 * ns], seg[2 + 2 * ns]
            ahal = seg[3 + 2 * ns]
            ah, al = ahal >> 4, ahal & 0x0F
            if prog_state is None:
                hmax = max(c["h"] for c in frame["comps"])
                vmax = max(c["v"] for c in frame["comps"])
                mcu_cols = -(-frame["w"] // (8 * hmax))
                mcu_rows = -(-frame["h"] // (8 * vmax))
                prog_state = {
                    "bycomp": {
                        c["id"]: _coefficient_store(c, mcu_rows * c["v"], mcu_cols * c["h"])
                        for c in frame["comps"]
                    },
                    "eobrun_box": {"eobrun": 0},
                    "hmax": hmax,
                    "vmax": vmax,
                }
            pscan = [
                (prog_state["bycomp"][comp["id"]], dc_id, ac_id)
                for comp, dc_id, ac_id in scan
            ]
            pos = _decode_progressive_scan(
                data, pos + 2 + seglen, frame, pscan, ss, se, ah, al,
                htabs, restart_interval, prog_state,
            )
            continue
        pos += 2 + seglen
    if prog_state is not None:
        comps = []
        for c in frame["comps"]:
            st = prog_state["bycomp"][c["id"]]
            st["q"] = qtabs[c["tq"]].reshape(8, 8).astype(np.float64)
            comps.append(st)
        return _reconstruct_planes(
            comps, frame["h"], frame["w"], prog_state["hmax"], prog_state["vmax"]
        )
    raise ValueError("no scan found")


def _parse_frame(seg: bytes, progressive: bool) -> dict:
    """SOF payload -> frame dict, refusing before any coefficient is
    allocated what no decode could finish within the pixel budget."""
    prec, fh, fw, nf = seg[0], struct.unpack(">H", seg[1:3])[0], struct.unpack(
        ">H", seg[3:5]
    )[0], seg[5]
    if fh == 0 or fw == 0:  # 0 lines = height deferred to a DNL marker
        raise ValueError(f"zero JPEG dimensions {fw}x{fh}")
    if fh * fw > MAX_DECODE_PIXELS:
        raise ValueError(f"frame {fw}x{fh} exceeds the pixel budget")
    if nf not in (1, 3):
        raise ValueError(f"unsupported component count {nf}")
    comps = []
    for ci in range(nf):
        cid, sf, tq = seg[6 + 3 * ci : 9 + 3 * ci]
        if not (1 <= sf >> 4 <= 4 and 1 <= sf & 0x0F <= 4):
            raise ValueError(f"bad sampling factors {sf:#04x}")
        comps.append({"id": cid, "h": sf >> 4, "v": sf & 0x0F, "tq": tq})
    return {"h": fh, "w": fw, "comps": comps, "prec": prec, "progressive": progressive}


def _coefficient_store(comp: dict, nby: int, nbx: int) -> dict:
    """One component's quantized coefficients: one flat int64 buffer of
    ``nby * nbx`` blocks of 64 in zigzag order, block (by, bx) at
    ``(by * nbx + bx) * 64``, written through a memoryview (as fast as a
    list, and numpy reads it without a copy). ``np.zeros`` maps its
    pages lazily, so a short scan touches little of it. int64 cannot
    overflow within the pixel budget: a DC predictor moves by under
    2**16 per block."""
    co = memoryview(np.zeros(nby * nbx * 64, dtype=np.int64))
    return {"c": comp, "co": co, "nby": nby, "nbx": nbx}


def _decode_scan(data, pos, frame, scan, qtabs, htabs, restart_interval) -> dict:
    """One interleaved baseline scan. The bit buffer lives in local
    variables: each symbol is one lookahead-table index, and its
    magnitude bits are cut from the same buffer without a refill."""
    h, w = frame["h"], frame["w"]
    hmax = max(c["h"] for c, _, _ in scan)
    vmax = max(c["v"] for c, _, _ in scan)
    mcu_cols = -(-w // (8 * hmax))
    mcu_rows = -(-h // (8 * vmax))
    comps = []
    # one entry per block of an MCU: component, DC and AC tables,
    # coefficient buffer, offset in the MCU, MCU row and column strides
    units = []
    for ci, (comp, dc_id, ac_id) in enumerate(scan):
        st = _coefficient_store(comp, mcu_rows * comp["v"], mcu_cols * comp["h"])
        st["q"] = qtabs[comp["tq"]].reshape(8, 8).astype(np.float64)
        comps.append(st)
        dct, act = htabs[(0, dc_id)], htabs[(1, ac_id)]
        nbx = st["nbx"]
        for by in range(comp["v"]):
            for bx in range(comp["h"]):
                units.append(
                    (ci, dct, act, st["co"], (by * nbx + bx) * 64, comp["v"] * nbx * 64, comp["h"] * 64)
                )
    br = _BitReader(data, pos)
    from_bytes = int.from_bytes
    n_mcu = mcu_rows * mcu_cols
    interval = restart_interval or n_mcu
    for first in range(0, n_mcu, interval):
        br.load(first // interval)
        buf, limit = br.buf, br.limit
        acc = nb = p = 0
        preds = [0] * len(comps)
        try:
            for mcu in range(first, min(first + interval, n_mcu)):
                mr, mc = divmod(mcu, mcu_cols)
                for ci, dct, act, co, off, row_stride, col_stride in units:
                    b = mr * row_stride + mc * col_stride + off
                    # DC: size symbol, then `size` magnitude bits (F.2.2.1)
                    if nb < 32:
                        acc = ((acc & ((1 << nb) - 1)) << 32) | from_bytes(buf[p : p + 4], "big")
                        p += 4
                        nb += 32
                    e = dct[(acc >> (nb - 16)) & 0xFFFF]
                    if not e:
                        raise ValueError("bad Huffman code")
                    s = e & 0xFF
                    if s:
                        if s > 16:
                            raise ValueError(f"bad DC magnitude size {s}")
                        nb -= (e >> 8) + s
                        mask = (1 << s) - 1
                        v = (acc >> nb) & mask
                        preds[ci] += v - mask if v <= mask >> 1 else v
                    else:
                        nb -= e >> 8
                    co[b] = preds[ci]
                    # AC: (run, size) symbols until EOB (F.2.2.2)
                    k = b + 1
                    end = b + 64
                    while k < end:
                        if nb < 32:
                            acc = ((acc & ((1 << nb) - 1)) << 32) | from_bytes(buf[p : p + 4], "big")
                            p += 4
                            nb += 32
                        e = act[(acc >> (nb - 16)) & 0xFFFF]
                        if not e:
                            raise ValueError("bad Huffman code")
                        s = e & 15
                        if s:
                            k += (e >> 4) & 15
                            if k >= end:
                                raise ValueError("AC index out of range")
                            nb -= (e >> 8) + s
                            mask = (1 << s) - 1
                            v = (acc >> nb) & mask
                            co[k] = v - mask if v <= mask >> 1 else v
                            k += 1
                        elif e & 0xF0 == 0xF0:
                            nb -= e >> 8
                            k += 16  # ZRL
                        else:
                            nb -= e >> 8
                            break  # EOB
                if mc == mcu_cols - 1 and 8 * p - nb > limit:
                    raise ValueError(_TRUNCATED)
            if 8 * p - nb > limit:
                raise ValueError(_TRUNCATED)
        except ValueError:
            if 8 * p - nb > limit:  # garbage decoded past the data's end
                raise ValueError(_TRUNCATED) from None
            raise
    return _reconstruct_planes(comps, h, w, hmax, vmax)


def _reconstruct_planes(comps, h, w, hmax, vmax) -> dict:
    """Shared tail of baseline and progressive decode: dequantize the
    accumulated zigzag coefficients, IDCT, upsample, color-convert."""
    planes = []
    for st in comps:
        nat = np.zeros((st["nby"], st["nbx"], 64), dtype=np.float64)
        nat[:, :, ZIGZAG] = np.frombuffer(st["co"], dtype=np.int64).reshape(st["nby"], st["nbx"], 64)
        coef = nat.reshape(st["nby"], st["nbx"], 8, 8) * st["q"]
        plane = _idct_blocks(coef) + 128.0
        # upsample by replication to full-resolution grid
        ry = vmax // st["c"]["v"]
        rx = hmax // st["c"]["h"]
        if ry > 1 or rx > 1:
            plane = plane.repeat(ry, axis=0).repeat(rx, axis=1)
        planes.append(plane[:h, :w])
    if len(planes) == 1:
        px = np.clip(np.round(planes[0]), 0, 255).astype(np.uint8)
        return {"pixels": px, "mode": "L"}
    if len(planes) == 3:
        px = _ycbcr_to_rgb(planes[0], planes[1], planes[2])
        return {"pixels": px, "mode": "RGB"}
    raise ValueError(f"unsupported component count {len(planes)}")


# ------------------------------------------------------- progressive decode
#
# T.81 Annex G (spectral selection + successive approximation), the
# scan shapes libjpeg emits by default. Coefficients accumulate across
# scans in the per-component flat buffers (``_coefficient_store``);
# reconstruction happens once at EOI via the shared `_reconstruct_planes`.
# Block ``b`` below is the index of a block's first coefficient.


def _true_block_dims(frame, comp, hmax: int, vmax: int) -> tuple[int, int]:
    """Non-interleaved scans iterate the component's OWN block grid
    (ceil(sampled dim / 8)), not the MCU-padded storage grid."""
    ch = -(-frame["w"] * comp["h"] // hmax)
    cv = -(-frame["h"] * comp["v"] // vmax)
    return -(-cv // 8), -(-ch // 8)


def _dec_dc_first(br, co, b: int, pred: int, dc_tab, al: int) -> int:
    size = br.symbol(dc_tab)
    if size > 16:
        raise ValueError(f"bad DC magnitude size {size}")
    pred += _extend(br.bits(size), size)
    co[b] = pred << al
    return pred


def _dec_ac_first(br, co, b: int, ss: int, se: int, al: int, ac_tab, state: dict) -> None:
    if state["eobrun"] > 0:
        state["eobrun"] -= 1
        return
    k = ss
    while k <= se:
        rs = br.symbol(ac_tab)
        r, s = rs >> 4, rs & 0x0F
        if s == 0:
            if r == 15:
                k += 16  # ZRL
                continue
            state["eobrun"] = (1 << r)
            if r:
                state["eobrun"] += br.bits(r)
            state["eobrun"] -= 1  # this block is the run's first
            return
        k += r
        if k > se:
            raise ValueError("AC index out of band")
        co[b + k] = _extend(br.bits(s), s) << al  # sign-magnitude point transform
        k += 1


def _dec_ac_refine(br, co, b: int, ss: int, se: int, al: int, ac_tab, state: dict) -> None:
    p1, m1 = 1 << al, -(1 << al)

    def correct(i: int) -> None:
        if br.bits(1):
            co[i] += p1 if co[i] > 0 else m1

    k = b + ss
    end = b + se
    if state["eobrun"] == 0:
        while k <= end:
            rs = br.symbol(ac_tab)
            r, s = rs >> 4, rs & 0x0F
            newval = 0
            if s == 0:
                if r < 15:
                    state["eobrun"] = (1 << r)
                    if r:
                        state["eobrun"] += br.bits(r)
                    break  # tail of this block refined below
                # ZRL: r=15 -> skip 16 zero-history positions
            else:
                if s != 1:
                    raise ValueError("refinement magnitude must be 1")
                newval = p1 if br.bits(1) else m1
            while k <= end:
                if co[k] != 0:
                    correct(k)
                else:
                    if r == 0:
                        if newval:
                            co[k] = newval
                        k += 1
                        break
                    r -= 1
                k += 1
    if state["eobrun"] > 0:
        while k <= end:  # correction bits for the band's remaining nonzeros
            if co[k] != 0:
                correct(k)
            k += 1
        state["eobrun"] -= 1


def _decode_progressive_scan(
    data, pos, frame, scan, ss, se, ah, al, htabs, restart_interval, state
) -> int:
    """Decode one progressive SOS's entropy data into the persistent
    coefficient state; returns the position of the marker after it."""
    br = _BitReader(data, pos)
    eob = state["eobrun_box"]
    eob["eobrun"] = 0  # EOB runs never cross scans
    interleaved = len(scan) > 1
    if ss == 0 and se != 0:
        raise ValueError("DC scan must have Se=0")
    if ss != 0 and len(scan) != 1:
        raise ValueError("AC scans are single-component")
    hmax = max(c["h"] for c in frame["comps"])
    vmax = max(c["v"] for c in frame["comps"])
    try:
        if interleaved:
            mcu_cols = -(-frame["w"] // (8 * hmax))
            mcu_rows = -(-frame["h"] // (8 * vmax))
            preds = [0] * len(scan)
            mcu_count = 0
            for mr in range(mcu_rows):
                for mc in range(mcu_cols):
                    if (
                        restart_interval
                        and mcu_count
                        and mcu_count % restart_interval == 0
                    ):
                        br.restart()
                        preds = [0] * len(scan)
                    mcu_count += 1
                    for ci, (st, dc_id, _) in enumerate(scan):
                        cv, ch, co = st["c"]["v"], st["c"]["h"], st["co"]
                        for by in range(cv):
                            for bx in range(ch):
                                b = ((mr * cv + by) * st["nbx"] + mc * ch + bx) * 64
                                if ah == 0:
                                    preds[ci] = _dec_dc_first(
                                        br, co, b, preds[ci], htabs[(0, dc_id)], al
                                    )
                                else:
                                    co[b] += br.bits(1) << al
                br.check()
        else:
            st, dc_id, ac_id = scan[0]
            co, nbx_store = st["co"], st["nbx"]
            nby, nbx = _true_block_dims(frame, st["c"], hmax, vmax)
            pred = 0
            blk_count = 0
            for by in range(nby):
                for bx in range(nbx):
                    if (
                        restart_interval
                        and blk_count
                        and blk_count % restart_interval == 0
                    ):
                        br.restart()
                        pred = 0
                        eob["eobrun"] = 0
                    blk_count += 1
                    b = (by * nbx_store + bx) * 64
                    if ss == 0:
                        if ah == 0:
                            pred = _dec_dc_first(br, co, b, pred, htabs[(0, dc_id)], al)
                        else:
                            co[b] += br.bits(1) << al
                    elif ah == 0:
                        _dec_ac_first(br, co, b, ss, se, al, htabs[(1, ac_id)], eob)
                    else:
                        _dec_ac_refine(br, co, b, ss, se, al, htabs[(1, ac_id)], eob)
                br.check()
    except ValueError:
        br.check()  # garbage decoded past the data's end is a truncation
        raise
    return br.end
