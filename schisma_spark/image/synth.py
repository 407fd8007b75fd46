"""Deterministic synthetic image codecs — stdlib + numpy only.

Three formats (FIXTURES.md A1), chosen to be decodable without third-party
codecs:

- ``raw``: H*W*3 uint8 RGB, row-major, no header
- ``bmp``: BI_RGB 24-bit bottom-up BMP (BGR, 4-byte row padding)
- ``png``: real PNG (8-bit RGB, filter 0) via ``zlib`` + ``struct`` —
  stands in for the "lossy" format in PSNR thresholding (BASELINE.json:6)

Pixels are a pure function of (image_id, w, h): numpy PCG64 seeded from a
stable hash of the id, so any executor can regenerate the reference image
without data movement.
"""

from __future__ import annotations

import hashlib
import struct
import zlib

import numpy as np

FORMATS = ("raw", "bmp", "png")


# Module-level generator whose 128-bit state is re-seeded per image from
# md5(image_id) — constructing a fresh PCG64/SeedSequence per call costs
# ~60us, direct state injection ~17us. Single-threaded per Spark python
# worker process, so the shared object is safe there.
_BG = np.random.PCG64()
_GEN = np.random.Generator(_BG)
_PCG_INC = 0x5851F42D4C957F2D


def gen_pixels(image_id: str, w: int, h: int) -> np.ndarray:
    """(h, w, 3) uint8, a pure function of (image_id, w, h)."""
    d = hashlib.md5(image_id.encode()).digest()
    st = _BG.state
    st["state"] = {"state": int.from_bytes(d, "little"), "inc": _PCG_INC}
    _BG.state = st
    return _GEN.integers(0, 256, size=(h, w, 3), dtype=np.uint8)


# -- encoders ---------------------------------------------------------------

def _encode_bmp(px: np.ndarray) -> bytes:
    h, w, _ = px.shape
    row_size = (w * 3 + 3) & ~3
    img_size = row_size * h
    header = struct.pack("<2sIHHI", b"BM", 54 + img_size, 0, 0, 54)
    info = struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, img_size,
                       2835, 2835, 0, 0)
    rows = []
    pad = b"\x00" * (row_size - w * 3)
    bgr = px[:, :, ::-1]
    for y in range(h - 1, -1, -1):  # bottom-up
        rows.append(bgr[y].tobytes() + pad)
    return header + info + b"".join(rows)


def _decode_bmp(data: bytes) -> np.ndarray:
    if data[:2] != b"BM":
        raise ValueError("not a BMP")
    offset = struct.unpack_from("<I", data, 10)[0]
    w = struct.unpack_from("<i", data, 18)[0]
    h = struct.unpack_from("<i", data, 22)[0]
    bpp = struct.unpack_from("<H", data, 28)[0]
    if bpp != 24:
        raise ValueError("unsupported BMP bpp")
    row_size = (w * 3 + 3) & ~3
    ah = abs(h)
    need = offset + row_size * ah
    if len(data) < need:
        raise ValueError("truncated BMP")
    # one frombuffer + strided views — the per-image-row Python loop cost
    # 38 us/image vs 3 us for this (measured; decode is the hottest
    # Python in the engine)
    buf = np.frombuffer(data, np.uint8, row_size * ah, offset)
    px = buf.reshape(ah, row_size)[:, : w * 3].reshape(ah, w, 3)[:, :, ::-1]
    if h > 0:
        px = px[::-1]  # bottom-up
    return px


_PNG_SIG = b"\x89PNG\r\n\x1a\n"


def _chunk(tag: bytes, payload: bytes) -> bytes:
    return (
        struct.pack(">I", len(payload)) + tag + payload
        + struct.pack(">I", zlib.crc32(tag + payload) & 0xFFFFFFFF)
    )


def _encode_png(px: np.ndarray) -> bytes:
    h, w, _ = px.shape
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)  # 8-bit RGB
    scan = b"".join(b"\x00" + px[y].tobytes() for y in range(h))
    return (
        _PNG_SIG
        + _chunk(b"IHDR", ihdr)
        + _chunk(b"IDAT", zlib.compress(scan, 6))
        + _chunk(b"IEND", b"")
    )


def _decode_png(data: bytes) -> np.ndarray:
    if data[:8] != _PNG_SIG:
        raise ValueError("not a PNG")
    pos, w = 8, None
    idat = b""
    while pos + 8 <= len(data):
        (ln,) = struct.unpack_from(">I", data, pos)
        tag = data[pos + 4: pos + 8]
        payload = data[pos + 8: pos + 8 + ln]
        if len(payload) < ln:
            raise ValueError("truncated PNG")
        if tag == b"IHDR":
            w, h, depth, ctype = struct.unpack_from(">IIBB", payload, 0)
            if depth != 8 or ctype != 2:
                raise ValueError("unsupported PNG type")
        elif tag == b"IDAT":
            idat += payload
        elif tag == b"IEND":
            break
        pos += 12 + ln
    if w is None:
        raise ValueError("missing IHDR")
    scan = zlib.decompress(idat)
    stride = w * 3 + 1
    if len(scan) != stride * h:
        raise ValueError("bad PNG payload size")
    flat = np.frombuffer(scan, np.uint8)
    # fast path: all rows filter 0 (what our encoder emits) -> one reshape,
    # no per-row Python loop
    if not flat[::stride].any():
        return flat.reshape(h, stride)[:, 1:].reshape(h, w, 3).copy()
    out = np.empty((h, w, 3), dtype=np.uint8)
    prev = np.zeros(w * 3, dtype=np.uint8)
    for y in range(h):
        row = np.frombuffer(scan, np.uint8, w * 3 + 1, y * stride)
        flt, body = row[0], row[1:].copy()
        if flt == 0:
            cur = body
        elif flt == 1:  # Sub
            cur = body
            for i in range(3, len(cur)):
                cur[i] = (int(cur[i]) + int(cur[i - 3])) & 0xFF
        elif flt == 2:  # Up
            cur = (body.astype(np.int16) + prev).astype(np.uint8)
        else:
            raise ValueError(f"unsupported PNG filter {flt}")
        out[y] = cur.reshape(w, 3)
        prev = cur
    return out


def encode_image(px: np.ndarray, fmt: str) -> bytes:
    if fmt == "raw":
        return px.tobytes()
    if fmt == "bmp":
        return _encode_bmp(px)
    if fmt == "png":
        return _encode_png(px)
    raise ValueError(f"unknown format {fmt!r}")


def decode_image(data: bytes, fmt: str, w: int, h: int) -> np.ndarray:
    """Decode; raises ValueError on corrupt/truncated payloads. ``raw``
    needs the declared (w, h); header formats carry their own."""
    if data is None:
        raise ValueError("null bytes")
    if fmt == "raw":
        if w is None or h is None or w <= 0 or h <= 0:
            raise ValueError("raw needs positive w/h")
        need = w * h * 3
        if len(data) < need:
            raise ValueError("truncated raw")
        return np.frombuffer(data, np.uint8, need).reshape(h, w, 3)
    if fmt == "bmp":
        return _decode_bmp(data)
    if fmt == "png":
        return _decode_png(data)
    raise ValueError(f"unknown format {fmt!r}")


def psnr(a: np.ndarray, b: np.ndarray) -> float:
    """Peak signal-to-noise ratio in dB; inf for identical images.

    Sum of squares via one float64 dot: half the wall of the
    mean-of-squares form at 32x32x3 (np.mean's dispatch overhead
    dominates at these sizes). Exact: each squared diff is at most 255^2,
    so every partial sum is an integer below 2^53 for any image under
    10^11 channel values and every summation order gives the same
    float64. An int32 dot would wrap past 2^31, which a worst-case
    256x256 RGB diff already reaches."""
    if a.shape != b.shape:
        return 0.0
    d = (a.astype(np.float64) - b).ravel()
    mse = float(np.dot(d, d)) / d.size
    if mse == 0:
        return float("inf")
    return float(10.0 * np.log10(255.0**2 / mse))
