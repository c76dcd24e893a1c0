"""From-scratch Windows BMP (DIB) decoder — 8-bit palette / 24-bit
BGR / 32-bit BGRA uncompressed (BI_RGB) bitmaps and 8-bit BI_RLE8.

The reference engine has no BMP surface (GeoTIFF/NetCDF only); BMP
rows show up in web-crawl image tables, and until r6 they diverted to
quarantine. Public layout: 14-byte BITMAPFILEHEADER ('BM', file size,
pixel-data offset) + BITMAPINFOHEADER (40+ bytes, little-endian) +
optional palette + pixel rows padded to 4-byte boundaries, bottom-up
unless height is negative. Returns the engine's (bands, h, w) uint16
convention with native 0-255 values.
"""
from __future__ import annotations

import struct

import numpy as np


def decode_bmp(buf: bytes) -> np.ndarray:
    b = bytes(buf)
    if len(b) < 54 or b[:2] != b"BM":
        raise ValueError("not a BMP payload")
    (data_off,) = struct.unpack_from("<I", b, 10)
    (hdr_size,) = struct.unpack_from("<I", b, 14)
    if hdr_size < 40:
        raise ValueError(f"unsupported DIB header size {hdr_size}")
    w, h = struct.unpack_from("<ii", b, 18)
    (planes, bpp) = struct.unpack_from("<HH", b, 26)
    (compression,) = struct.unpack_from("<I", b, 30)
    if compression not in (0, 1) or (compression == 1 and bpp != 8):
        raise ValueError(
            f"unsupported BMP compression {compression} at {bpp} bpp")
    if w <= 0 or h == 0 or planes != 1:
        raise ValueError(f"bad BMP dimensions w={w} h={h} planes={planes}")
    top_down = h < 0
    h = abs(h)
    if w * h > 100_000_000:
        raise ValueError("BMP dimensions exceed the 1e8-pixel safety cap")
    if bpp == 8:
        # shared palette path for BI_RGB and BI_RLE8 — only the index
        # plane construction differs between the two
        (used,) = struct.unpack_from("<I", b, 46)
        n_pal = used or 256
        pal = np.frombuffer(b, dtype=np.uint8, count=n_pal * 4,
                            offset=14 + hdr_size).reshape(n_pal, 4)
        if compression == 1:  # BI_RLE8: defined bottom-up only
            if top_down:
                raise ValueError("BI_RLE8 requires bottom-up 8-bit data")
            idx = _decode_rle8(b[data_off:], w, h)[::-1]
        else:
            stride = (w + 3) & ~3
            rows = np.frombuffer(b, dtype=np.uint8, count=stride * h,
                                 offset=data_off).reshape(h, stride)[:, :w]
            idx = rows if top_down else rows[::-1]
        # out-of-palette indices (malformed biClrUsed) clip to the last
        # entry — same policy as decode_gif, never a raw IndexError
        idx = np.minimum(idx, n_pal - 1)
        rgb = pal[idx][:, :, [2, 1, 0]]  # palette entries are BGRX
    elif bpp in (24, 32):
        nb = bpp // 8
        stride = (w * nb + 3) & ~3
        need = stride * h
        rows = np.frombuffer(b, dtype=np.uint8, count=need,
                             offset=data_off).reshape(h, stride)
        px = rows[:, :w * nb].reshape(h, w, nb)
        if not top_down:
            px = px[::-1]
        rgb = px[:, :, [2, 1, 0]]  # BGR(A) -> RGB, alpha dropped
    else:
        raise ValueError(f"unsupported BMP bit depth {bpp}")
    return np.ascontiguousarray(rgb.transpose(2, 0, 1)).astype(np.uint16)


def _decode_rle8(data: bytes, w: int, h: int) -> np.ndarray:
    """BI_RLE8 run decoder: pairs are (count, index) runs; escape
    count 0 switches on the second byte — 0 end-of-line, 1 end of
    bitmap, 2 (dx, dy) delta, n>=3 literal run (word-aligned).
    Unwritten cells (deltas skip them) stay 0, like most readers."""
    out = np.zeros((h, w), dtype=np.uint8)
    x = y = i = 0
    n = len(data)
    while i + 1 < n:
        c, v = data[i], data[i + 1]
        i += 2
        if c > 0:  # run of v, clipped to the row
            end = min(x + c, w)
            if y < h:
                out[y, x:end] = v
            x = end
            continue
        if v == 0:  # end of line
            x, y = 0, y + 1
            continue
        if v == 1:  # end of bitmap
            break
        if v == 2:  # delta jump
            if i + 1 >= n:
                raise ValueError("BI_RLE8 truncated delta")
            x = min(x + data[i], w)
            y += data[i + 1]
            i += 2
            continue
        lit = data[i:i + v]
        if len(lit) < v:
            raise ValueError("BI_RLE8 truncated literal run")
        end = min(x + v, w)
        if y < h:
            out[y, x:end] = np.frombuffer(lit[:end - x], dtype=np.uint8)
        x = end
        i += v + (v & 1)  # literal runs are word-aligned
        if y > h:
            break
    return out
