"""Pure-stdlib PNG codec (zlib + struct + numpy) — no imaging library.

The container has no PIL/cv2, but the reference's golden test images are
PNGs (core/src/test/resources/images/nybc200089_0011.png — the Deskewer
golden, DeskewerTest.scala:10-17). This decoder unlocks reading them in
place, giving the vision operators real-pixel parity tests.

Supports: 8-bit greyscale (0), RGB (2), palette (3), grey+alpha (4),
RGBA (6); non-interlaced; all five scanline filters. 16-bit and Adam7
are rejected explicitly (not used by the reference fixtures).
"""

from __future__ import annotations

import struct
import zlib

import numpy as np

_SIG = b"\x89PNG\r\n\x1a\n"

_CHANNELS = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}


def _unfilter(raw: np.ndarray, height: int, width: int, bpp: int) -> np.ndarray:
    """Undo per-scanline filtering. raw is (height, 1 + width*bpp) uint8."""
    stride = width * bpp
    out = np.zeros((height, stride), dtype=np.uint8)
    prev = np.zeros(stride, dtype=np.uint8)
    for y in range(height):
        ftype = int(raw[y, 0])
        line = raw[y, 1:].copy()
        if ftype == 0:
            cur = line
        elif ftype == 1:  # Sub: add left — cumsum mod 256 per bpp-lane
            cur = line
            for lane in range(bpp):
                cur[lane::bpp] = np.cumsum(
                    cur[lane::bpp], dtype=np.uint64
                ).astype(np.uint8)
        elif ftype == 2:  # Up
            cur = line + prev
        elif ftype == 3:  # Average — sequential in x per lane
            cur = line
            for lane in range(bpp):
                lv = cur[lane::bpp].astype(np.int32)
                pv = prev[lane::bpp].astype(np.int32)
                acc = 0
                vals = lv.tolist()
                ups = pv.tolist()
                res = []
                for i, v in enumerate(vals):
                    acc = (v + ((acc + ups[i]) >> 1)) & 0xFF
                    res.append(acc)
                cur[lane::bpp] = np.array(res, dtype=np.uint8)
        elif ftype == 4:  # Paeth — sequential in x per lane
            cur = line
            for lane in range(bpp):
                lv = cur[lane::bpp].astype(np.int32).tolist()
                pv = prev[lane::bpp].astype(np.int32).tolist()
                res = []
                left = 0
                upleft = 0
                for i, v in enumerate(lv):
                    up = pv[i]
                    p = left + up - upleft
                    pa, pb, pc = abs(p - left), abs(p - up), abs(p - upleft)
                    if pa <= pb and pa <= pc:
                        pred = left
                    elif pb <= pc:
                        pred = up
                    else:
                        pred = upleft
                    left = (v + pred) & 0xFF
                    upleft = up
                    res.append(left)
                cur[lane::bpp] = np.array(res, dtype=np.uint8)
        else:
            raise ValueError(f"unknown PNG filter type {ftype}")
        out[y] = cur
        prev = out[y]
    return out


def decode_png(data: bytes) -> np.ndarray:
    """Decode a PNG byte string to (H,W) grey or (H,W,C) uint8 array."""
    if data[:8] != _SIG:
        raise ValueError("not a PNG")
    pos = 8
    width = height = None
    bit_depth = color_type = interlace = None
    idat = []
    palette = None
    while pos < len(data):
        (length,) = struct.unpack(">I", data[pos : pos + 4])
        ctype = data[pos + 4 : pos + 8]
        body = data[pos + 8 : pos + 8 + length]
        pos += 12 + length
        if ctype == b"IHDR":
            width, height, bit_depth, color_type, _, _, interlace = struct.unpack(
                ">IIBBBBB", body
            )
        elif ctype == b"PLTE":
            palette = np.frombuffer(body, dtype=np.uint8).reshape(-1, 3)
        elif ctype == b"IDAT":
            idat.append(body)
        elif ctype == b"IEND":
            break
    if width is None:
        raise ValueError("PNG missing IHDR")
    if bit_depth != 8:
        raise NotImplementedError(f"bit depth {bit_depth} (only 8 supported)")
    if interlace != 0:
        raise NotImplementedError("Adam7 interlacing not supported")
    if color_type not in _CHANNELS:
        raise NotImplementedError(f"color type {color_type}")
    bpp = _CHANNELS[color_type]
    decompressed = zlib.decompress(b"".join(idat))
    stride = 1 + width * bpp
    raw = np.frombuffer(decompressed, dtype=np.uint8)
    if raw.size != height * stride:
        raise ValueError("PNG data size mismatch")
    raw = raw.reshape(height, stride)
    pixels = _unfilter(raw, height, width, bpp)
    if color_type == 3:
        if palette is None:
            raise ValueError("palette PNG missing PLTE")
        return palette[pixels.reshape(height, width)]
    if bpp == 1:
        return pixels.reshape(height, width)
    return pixels.reshape(height, width, bpp)


def encode_png(img: np.ndarray) -> bytes:
    """Encode a (H,W) grey or (H,W,3) RGB uint8 array (filter 0 only)."""
    img = np.ascontiguousarray(img, dtype=np.uint8)
    if img.ndim == 2:
        color_type, bpp = 0, 1
        h, w = img.shape
        flat = img.reshape(h, w)
    elif img.ndim == 3 and img.shape[2] == 3:
        color_type, bpp = 2, 3
        h, w = img.shape[:2]
        flat = img.reshape(h, w * 3)
    else:
        raise NotImplementedError("only grey or RGB encode supported")
    raw = np.zeros((h, 1 + w * bpp), dtype=np.uint8)
    raw[:, 1:] = flat

    def chunk(ctype: bytes, body: bytes) -> bytes:
        return (
            struct.pack(">I", len(body))
            + ctype
            + body
            + struct.pack(">I", zlib.crc32(ctype + body) & 0xFFFFFFFF)
        )

    ihdr = struct.pack(">IIBBBBB", w, h, 8, color_type, 0, 0, 0)
    idat = zlib.compress(raw.tobytes(), 6)
    return _SIG + chunk(b"IHDR", ihdr) + chunk(b"IDAT", idat) + chunk(b"IEND", b"")
