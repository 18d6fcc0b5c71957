"""GIF87a/89a codec from scratch — no imaging libraries.

Upgrades the engine's video modality (``functions/media.py``) from the
deterministic fake to REAL frame decode for a true container format:
animated GIF. The format is public knowledge (CompuServe GIF89a
specification, 1990 — logical screen descriptor, color tables,
graphic-control extensions, image descriptors, and the GIF variant of
LZW with variable code width, CLEAR/EOI codes and the 12-bit table
cap). Implementation is hand-rolled bit I/O over bytearrays, the same
dependency-free-codec approach as ``functions/png.py`` /
``functions/jpeg.py`` / ``functions/wav.py``.

Reference parity: the reference's media model is opaque binary +
typed metadata + frame/feature extraction UDFs (`02_Data
Ingest.py:191-199` for the image flavor); this module provides real
decode for the video flavor so frame sampling operates on actual
decoded pixels.

Supported:
- decode: GIF87a + GIF89a, global/local color tables, interlaced
  images, multi-frame animations with graphic-control extensions
  (per-frame delay, transparency, disposal 0/1 keep, 2 restore-bg,
  3 restore-previous), unknown extensions skipped by sub-block walk.
- encode: animated GIF89a, full-frame non-interlaced images over one
  global palette, real LZW (variable width, table reset at 4096),
  NETSCAPE loop extension, per-frame delay.

Scale shape: pure per-row byte work — callers wrap it in
Arrow-batched UDFs (``media.with_video_metadata`` /
``media.sample_video_frames``), narrow projections, no shuffle.
"""

from __future__ import annotations

import struct

import numpy as np

from computer_vision_foundations_spark.functions.limits import MAX_DECODE_PIXELS

__all__ = [
    "is_gif",
    "encode_gif",
    "decode_gif",
    "gif_metadata",
]

_MAX_CODE = 4096  # 12-bit LZW table cap (GIF89a spec appendix F)


def is_gif(data: bytes) -> bool:
    """True when the buffer carries the GIF87a/GIF89a magic."""
    return len(data) >= 6 and data[:6] in (b"GIF87a", b"GIF89a")


# ---------------------------------------------------------------------------
# LZW (GIF variant: LSB-first bit packing, variable code width)
# ---------------------------------------------------------------------------


def _lzw_encode(indices: np.ndarray, mcs: int) -> bytes:
    """GIF-LZW compress a flat uint8 index array at min-code-size
    ``mcs``. Emits CLEAR up front and on table overflow; the width
    bump runs one emission later than the decoder's table growth
    (the decoder adds entries one code behind the encoder)."""
    clear, eoi = 1 << mcs, (1 << mcs) + 1
    out = bytearray()
    acc = nbits = 0

    def emit(code: int, width: int) -> None:
        nonlocal acc, nbits
        acc |= code << nbits
        nbits += width
        while nbits >= 8:
            out.append(acc & 0xFF)
            acc >>= 8
            nbits -= 8

    width = mcs + 1
    next_code = eoi + 1
    table: dict[tuple[int, int], int] = {}
    emit(clear, width)
    it = iter(indices.tolist())
    try:
        cur = next(it)
    except StopIteration:
        emit(eoi, width)
        if nbits:
            out.append(acc & 0xFF)
        return bytes(out)
    for px in it:
        key = (cur, px)
        code = table.get(key)
        if code is not None:
            cur = code
            continue
        emit(cur, width)
        if next_code < _MAX_CODE:
            table[key] = next_code
            next_code += 1
            if next_code == (1 << width) + 1 and width < 12:
                width += 1
        else:
            emit(clear, width)
            table.clear()
            width = mcs + 1
            next_code = eoi + 1
        cur = px
    emit(cur, width)
    emit(eoi, width)
    if nbits:
        out.append(acc & 0xFF)
    return bytes(out)


def _lzw_decode(data: bytes, mcs: int, n_pixels: int) -> np.ndarray:
    """GIF-LZW decompress to exactly ``n_pixels`` uint8 indices."""
    clear, eoi = 1 << mcs, (1 << mcs) + 1
    acc = nbits = pos = 0
    end = len(data)

    def read(width: int) -> int:
        nonlocal acc, nbits, pos
        while nbits < width:
            if pos >= end:
                return eoi  # truncated stream: stop cleanly
            acc |= data[pos] << nbits
            pos += 1
            nbits += 8
        code = acc & ((1 << width) - 1)
        acc >>= width
        nbits -= width
        return code

    base = [bytes([i]) for i in range(1 << mcs)] + [b"", b""]
    table = list(base)
    width = mcs + 1
    next_code = eoi + 1
    out = bytearray()
    prev: bytes | None = None
    while len(out) < n_pixels:
        code = read(width)
        if code == eoi:
            break
        if code == clear:
            table = list(base)
            width = mcs + 1
            next_code = eoi + 1
            prev = None
            continue
        if prev is None:
            if code >= len(table):
                raise ValueError("invalid first LZW code")
            entry = table[code]
        elif code < next_code:
            entry = table[code]
        elif code == next_code:
            entry = prev + prev[:1]  # the KwKwK case
        else:
            raise ValueError("LZW code out of range")
        out += entry
        if prev is not None and next_code < _MAX_CODE:
            table.append(prev + entry[:1])
            next_code += 1
            if next_code == (1 << width) and width < 12:
                width += 1
        prev = entry
    arr = np.zeros(n_pixels, dtype=np.uint8)
    got = min(len(out), n_pixels)
    arr[:got] = np.frombuffer(bytes(out[:got]), dtype=np.uint8)
    return arr


_INTERLACE_PASSES = ((0, 8), (4, 8), (2, 4), (1, 2))


def _deinterlace(rows: np.ndarray) -> np.ndarray:
    h = rows.shape[0]
    order = [
        y for start, step in _INTERLACE_PASSES for y in range(start, h, step)
    ]
    out = np.empty_like(rows)
    out[np.asarray(order, dtype=np.int64)] = rows
    return out


# ---------------------------------------------------------------------------
# Container
# ---------------------------------------------------------------------------


def encode_gif(
    frames: list[np.ndarray],
    palette: np.ndarray,
    delays_cs: list[int] | int = 10,
    loop: bool = True,
) -> bytes:
    """Serialize index frames as an animated GIF89a.

    ``frames``: list of ``(h, w)`` uint8 palette-index arrays (all the
    same shape); ``palette``: ``(n, 3)`` uint8 RGB rows (padded to the
    next power of two); ``delays_cs``: per-frame delay in centiseconds
    (int applies to all frames).
    """
    if not frames:
        raise ValueError("need at least one frame")
    pal = np.asarray(palette, dtype=np.uint8)
    if pal.ndim != 2 or pal.shape[1] != 3 or not 2 <= pal.shape[0] <= 256:
        raise ValueError("palette must be (2..256, 3) uint8")
    depth = max(1, int(np.ceil(np.log2(pal.shape[0]))))
    pal_full = np.zeros((1 << depth, 3), dtype=np.uint8)
    pal_full[: pal.shape[0]] = pal
    h, w = frames[0].shape
    if isinstance(delays_cs, int):
        delays_cs = [delays_cs] * len(frames)
    if len(delays_cs) != len(frames):
        raise ValueError("one delay per frame")
    out = bytearray(b"GIF89a")
    # logical screen descriptor: GCT flag, color resolution, GCT size
    packed = 0x80 | ((depth - 1) << 4) | (depth - 1)
    out += struct.pack("<HHBBB", w, h, packed, 0, 0)
    out += pal_full.tobytes()
    if loop and len(frames) > 1:
        out += b"\x21\xff\x0bNETSCAPE2.0\x03\x01\x00\x00\x00"
    mcs = max(2, depth)  # spec: minimum LZW code size is 2
    for frame, delay in zip(frames, delays_cs):
        if frame.shape != (h, w):
            raise ValueError("all frames must share one shape")
        out += b"\x21\xf9\x04" + struct.pack(
            "<BHB", 0x00, delay, 0
        ) + b"\x00"  # graphic control: no disposal, no transparency
        out += b"\x2c" + struct.pack("<HHHHB", 0, 0, w, h, 0)
        out.append(mcs)
        comp = _lzw_encode(
            np.ascontiguousarray(frame, dtype=np.uint8).ravel(), mcs
        )
        for i in range(0, len(comp), 255):
            chunk = comp[i : i + 255]
            out.append(len(chunk))
            out += chunk
        out.append(0)
    out.append(0x3B)
    return bytes(out)


def _read_subblocks(data: bytes, pos: int) -> tuple[bytes, int]:
    chunks = bytearray()
    end = len(data)
    while pos < end:
        n = data[pos]
        pos += 1
        if n == 0:
            break
        chunks += data[pos : pos + n]
        pos += n
    return bytes(chunks), pos


def _skip_subblocks(data: bytes, pos: int) -> int:
    end = len(data)
    while pos < end:
        n = data[pos]
        pos += 1
        if n == 0:
            break
        pos += n
    return pos


def decode_gif(
    data: bytes,
    max_pixels: int = MAX_DECODE_PIXELS,
) -> tuple[list[np.ndarray], list[int], tuple[int, int]]:
    """Full decode → ``(frames, delays_cs, (width, height))``.

    Each frame is the COMPOSITED canvas after that image: ``(h, w, 3)``
    uint8 RGB, honoring frame offsets, local palettes, transparency
    and disposal methods 0–3. Delay is the preceding graphic-control
    extension's centisecond value (0 when absent).

    ``max_pixels`` bounds every allocation against header bombs: a
    30-byte blob can DECLARE a 65535×65535 canvas (12.9 GB of RGB) —
    without the cap a corrupt file OOM-kills the executor before any
    try/except can help. Raises ValueError (the fallback-able kind)
    when the declared canvas, a frame rect, or total decoded frame
    pixels exceed the budget."""
    if not is_gif(data):
        raise ValueError("not a GIF stream")
    w, h, packed, bg, _aspect = struct.unpack_from("<HHBBB", data, 6)
    if w * h > max_pixels:
        raise ValueError(f"canvas {w}x{h} exceeds max_pixels budget")
    pos = 13
    gct = None
    if packed & 0x80:
        n = 2 << (packed & 0x07)
        gct = np.frombuffer(data[pos : pos + 3 * n], dtype=np.uint8).reshape(
            n, 3
        )
        pos += 3 * n
    canvas = np.zeros((h, w, 3), dtype=np.uint8)
    if gct is not None and bg < len(gct):
        canvas[:] = gct[bg]
    bg_canvas = canvas.copy()
    frames: list[np.ndarray] = []
    delays: list[int] = []
    delay = 0
    transparent = -1
    disposal = 0
    total_pixels = 0
    end = len(data)
    while pos < end:
        block = data[pos]
        pos += 1
        if block == 0x3B:  # trailer
            break
        if block == 0x21:  # extension
            label = data[pos]
            pos += 1
            if label == 0xF9 and pos + 5 <= end and data[pos] == 4:
                gc_packed, delay, tr = struct.unpack_from(
                    "<xBHB", data, pos
                )
                disposal = (gc_packed >> 2) & 0x07
                transparent = tr if gc_packed & 0x01 else -1
                pos = _skip_subblocks(data, pos)
            else:
                pos = _skip_subblocks(data, pos)
            continue
        if block != 0x2C:  # unknown block: stop rather than misparse
            break
        left, top, fw, fh, ipacked = struct.unpack_from("<HHHHB", data, pos)
        if fw * fh > max_pixels:
            raise ValueError(f"frame {fw}x{fh} exceeds max_pixels budget")
        # composited output copies the full canvas per frame — budget
        # the SUM of all allocations, not just the biggest one
        total_pixels += fw * fh + w * h
        if total_pixels > 4 * max_pixels:
            raise ValueError("total decoded frame pixels exceed budget")
        pos += 9
        pal = gct
        if ipacked & 0x80:
            n = 2 << (ipacked & 0x07)
            pal = np.frombuffer(
                data[pos : pos + 3 * n], dtype=np.uint8
            ).reshape(n, 3)
            pos += 3 * n
        if pal is None:
            raise ValueError("image without any color table")
        mcs = data[pos]
        pos += 1
        comp, pos = _read_subblocks(data, pos)
        idx = _lzw_decode(comp, mcs, fw * fh).reshape(fh, fw)
        if ipacked & 0x40:
            idx = _deinterlace(idx)
        before = canvas.copy() if disposal == 3 else None
        rgb = pal[np.minimum(idx, len(pal) - 1)]
        region = canvas[top : top + fh, left : left + fw]
        if transparent >= 0:
            mask = (idx != transparent)[: region.shape[0], : region.shape[1]]
            region[mask] = rgb[: region.shape[0], : region.shape[1]][mask]
        else:
            region[:] = rgb[: region.shape[0], : region.shape[1]]
        frames.append(canvas.copy())
        delays.append(delay)
        if disposal == 2:
            canvas[top : top + fh, left : left + fw] = bg_canvas[
                top : top + fh, left : left + fw
            ]
        elif disposal == 3 and before is not None:
            canvas = before
        delay, transparent, disposal = 0, -1, 0
    return frames, delays, (w, h)


def gif_metadata(data: bytes) -> tuple[int, int, int, int]:
    """Header-level parse → ``(width, height, n_frames,
    first_delay_cs)`` — walks block structure, skipping the LZW
    payload via sub-block lengths without decompressing."""
    if not is_gif(data):
        raise ValueError("not a GIF stream")
    w, h, packed, _bg, _aspect = struct.unpack_from("<HHBBB", data, 6)
    pos = 13
    if packed & 0x80:
        pos += 3 * (2 << (packed & 0x07))
    n_frames = 0
    first_delay = -1
    end = len(data)
    while pos < end:
        block = data[pos]
        pos += 1
        if block == 0x3B:
            break
        if block == 0x21:
            label = data[pos]
            pos += 1
            if label == 0xF9 and pos + 5 <= end and data[pos] == 4:
                (d,) = struct.unpack_from("<H", data, pos + 2)
                if first_delay < 0:
                    first_delay = d
            pos = _skip_subblocks(data, pos)
            continue
        if block != 0x2C:
            break
        ipacked = data[pos + 8]
        pos += 9
        if ipacked & 0x80:
            pos += 3 * (2 << (ipacked & 0x07))
        pos += 1  # LZW min code size
        pos = _skip_subblocks(data, pos)
        n_frames += 1
    return w, h, n_frames, max(first_delay, 0)
