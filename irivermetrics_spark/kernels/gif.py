"""From-scratch GIF87a/89a codec — decode (palette, interlace, local
color tables, multi-image files) and a minimal GIF89a encoder for
round-trip tests.

The reference engine has no GIF surface; crawl tables carry GIFs, and
until r6 they diverted to quarantine. Public format: logical screen
descriptor + color tables + blocks (0x21 extensions are skipped, 0x2C
image descriptors carry the pixels); pixel data is GIF-variant LZW —
LSB-first variable-width codes, clear = 1<<min_code_size, end =
clear+1, table capped at 4096. NOTE the off-by-one family: GIF bumps
the code width when next_code == (1<<width) (TIFF's LZW — kernels/
lzw.py — is the 'early change' variant that bumps one entry sooner;
the two are deliberately separate kernels).

Still consumers get frame 0; ``count_images`` counts image
descriptors (a GIF89a animation's frame count). Animation compositing
follows player semantics: transparent pixels show the underlying
canvas through, disposal methods restore background / the pre-frame
canvas (see ``_composite``). Returns (3, h, w) uint16 with native
0-255 values.
"""
from __future__ import annotations

import struct

import numpy as np

_MAX_CODE = 4096
_INTERLACE_PASSES = ((0, 8), (4, 8), (2, 4), (1, 2))


def _lzw_decode(data: bytes, min_code_size: int, n_pixels: int) -> np.ndarray:
    clear = 1 << min_code_size
    end = clear + 1
    out = np.empty(n_pixels, dtype=np.int32)
    n_out = 0
    # bit reader state (LSB-first), bounded accumulator
    acc = 0
    nbits = 0
    pos = 0
    width = min_code_size + 1
    table: list[bytes] = []
    prev: bytes | None = None

    def reset_table():
        nonlocal table, width, prev
        table = [bytes([i]) for i in range(clear)] + [b"", b""]
        width = min_code_size + 1
        prev = None

    reset_table()
    while n_out < n_pixels:
        while nbits < width:
            if pos >= len(data):
                raise ValueError("GIF LZW stream truncated")
            acc |= data[pos] << nbits
            pos += 1
            nbits += 8
        code = acc & ((1 << width) - 1)
        acc >>= width
        nbits -= width
        if code == clear:
            reset_table()
            continue
        if code == end:
            break
        if prev is None:
            if code >= clear:
                raise ValueError("GIF LZW: first code not a root")
            entry = table[code]
        elif code < len(table):
            entry = table[code]
            if len(table) < _MAX_CODE:
                table.append(prev + entry[:1])
        elif code == len(table) and len(table) < _MAX_CODE:
            entry = prev + prev[:1]
            table.append(entry)
        else:
            raise ValueError(f"GIF LZW: code {code} out of range")
        take = min(len(entry), n_pixels - n_out)
        out[n_out:n_out + take] = np.frombuffer(entry[:take], dtype=np.uint8)
        n_out += take
        if len(table) == (1 << width) and width < 12:
            width += 1
        prev = entry
    if n_out < n_pixels:
        raise ValueError(f"GIF pixel data short: {n_out}/{n_pixels}")
    return out


def _sub_blocks(b: bytes, pos: int) -> tuple[bytes, int]:
    parts = []
    while True:
        if pos >= len(b):
            raise ValueError("GIF sub-blocks truncated")
        n = b[pos]
        pos += 1
        if n == 0:
            break
        parts.append(b[pos:pos + n])
        if len(parts[-1]) < n:
            raise ValueError("GIF sub-block truncated")
        pos += n
    return b"".join(parts), pos


def _skip_sub_blocks(b: bytes, pos: int) -> int:
    """Advance past a sub-block chain without materializing it — keeps
    count_images and frame skipping O(1) in copies (the header probe
    promises never-O(payload) work per row)."""
    while True:
        if pos >= len(b):
            raise ValueError("GIF sub-blocks truncated")
        n = b[pos]
        pos += 1
        if n == 0:
            return pos
        if pos + n > len(b):
            raise ValueError("GIF sub-block truncated")
        pos += n


def _composite(buf: bytes):
    """Internal compositor: yields ``(frame_idx, canvas)`` where the
    canvas is the LIVE (h, w, 3) uint8 buffer — valid only until the
    next iteration step. Callers copy/convert the frames they keep,
    so sampling a 1000-frame animation does not pay 1000 full-canvas
    uint16 conversions."""
    b = bytes(buf)
    if len(b) < 13 or b[:6] not in (b"GIF87a", b"GIF89a"):
        raise ValueError("not a GIF payload")
    sw, sh, flags, bg, _ = struct.unpack_from("<HHBBB", b, 6)
    if sw * sh > 100_000_000:
        raise ValueError("GIF dimensions exceed the 1e8-pixel safety cap")
    pos = 13
    gct = None
    if flags & 0x80:
        n = 2 << (flags & 0x07)
        gct = np.frombuffer(b, dtype=np.uint8, count=n * 3,
                            offset=pos).reshape(n, 3)
        pos += n * 3
    bg_idx = bg if gct is not None and bg < len(gct) else 0
    bg_rgb = gct[bg_idx] if gct is not None else np.zeros(3, np.uint8)
    canvas = np.empty((sh, sw, 3), dtype=np.uint8)
    canvas[:] = bg_rgb
    transparent = None
    disposal = 0
    fidx = 0
    while pos < len(b):
        blk = b[pos]
        pos += 1
        if blk == 0x3B:  # trailer
            break
        if blk == 0x21:  # extension
            if pos >= len(b):
                raise ValueError("GIF extension truncated")
            label = b[pos]
            pos += 1
            if label == 0xF9 and pos + 4 < len(b) and b[pos] >= 4:
                # Graphic Control Extension: flags, delay, transparent idx
                gflags = b[pos + 1]
                disposal = (gflags >> 2) & 0x07
                transparent = b[pos + 4] if gflags & 0x01 else None
            pos = _skip_sub_blocks(b, pos)
            continue
        if blk != 0x2C:
            raise ValueError(f"unknown GIF block 0x{blk:02x}")
        if pos + 10 > len(b):
            raise ValueError("GIF image descriptor truncated")
        left, top, w, h, iflags = struct.unpack_from("<HHHHB", b, pos)
        pos += 9
        pal = gct
        if iflags & 0x80:
            n = 2 << (iflags & 0x07)
            pal = np.frombuffer(b, dtype=np.uint8, count=n * 3,
                                offset=pos).reshape(n, 3)
            pos += n * 3
        mcs = b[pos]
        pos += 1
        data, pos = _sub_blocks(b, pos)
        if pal is None:
            raise ValueError("GIF image has no color table")
        if not 2 <= mcs <= 11:
            raise ValueError(f"bad GIF LZW min code size {mcs}")
        if w * h > 100_000_000:
            # the screen cap alone does not bound this: a crafted
            # descriptor inside a small screen can demand a 2^32-pixel
            # buffer before the LZW stream proves short
            raise ValueError("GIF frame exceeds the 1e8-pixel safety cap")
        idx = _lzw_decode(data, mcs, w * h).reshape(h, w)
        if iflags & 0x40:  # interlaced: rows arrive in 4 passes
            rows = np.empty(h, dtype=np.int64)
            i = 0
            for start, step in _INTERLACE_PASSES:
                n_rows = len(range(start, h, step))
                rows[start:h:step] = np.arange(i, i + n_rows)
                i += n_rows
            idx = idx[rows]
        # clamp to the on-screen overlap; a fully offscreen frame
        # paints nothing but still shows (players skip the paint)
        ch = max(0, min(h, sh - top))
        cw = max(0, min(w, sw - left))
        clipped = idx[:ch, :cw]
        region = canvas[top:top + ch, left:left + cw]
        saved = region.copy() if disposal == 3 else None
        if ch and cw:
            safe = np.clip(clipped, 0, len(pal) - 1)
            painted = pal[safe]
            if transparent is not None:
                keep = (clipped == transparent)[:, :, None]
                painted = np.where(keep, region, painted)
            canvas[top:top + ch, left:left + cw] = painted
        yield fidx, canvas
        fidx += 1
        if disposal == 2 and ch and cw:
            canvas[top:top + ch, left:left + cw] = bg_rgb
        elif disposal == 3 and saved is not None and ch and cw:
            canvas[top:top + ch, left:left + cw] = saved
        transparent = None
        disposal = 0


def _to_planes(canvas: np.ndarray) -> np.ndarray:
    return np.ascontiguousarray(canvas.transpose(2, 0, 1)).astype(np.uint16)


def sample_frames(buf: bytes, every_k: int = 1):
    """Yield ``(frame_idx, frame)`` for every ``every_k``-th frame.
    All frames composite internally (they are deltas), but only the
    sampled ones pay the uint16 plane conversion."""
    for i, canvas in _composite(buf):
        if i % every_k == 0:
            yield i, _to_planes(canvas)


def decode_gif(buf: bytes, frame: int = 0) -> np.ndarray:
    """Decode the ``frame``-th COMPOSITED frame (0 = what still
    consumers want) to (3, h, w) uint16 — earlier frames are decoded
    too because GIF animation frames are deltas over the canvas."""
    for i, canvas in _composite(buf):
        if i == frame:
            return _to_planes(canvas)
    raise ValueError(f"GIF has no image descriptor #{frame}")


def count_images(buf: bytes) -> int:
    """Number of image descriptors (animation frame count)."""
    b = bytes(buf)
    if len(b) < 13 or b[:6] not in (b"GIF87a", b"GIF89a"):
        raise ValueError("not a GIF payload")
    flags = b[10]
    pos = 13
    if flags & 0x80:
        pos += (2 << (flags & 0x07)) * 3
    n = 0
    while pos < len(b):
        blk = b[pos]
        pos += 1
        if blk == 0x3B:
            break
        if blk == 0x21:
            pos += 1
            pos = _skip_sub_blocks(b, pos)
            continue
        if blk != 0x2C:
            break
        left, top, w, h, iflags = struct.unpack_from("<HHHHB", b, pos)
        pos += 9
        if iflags & 0x80:
            pos += (2 << (iflags & 0x07)) * 3
        pos += 1
        pos = _skip_sub_blocks(b, pos)
        n += 1
    return n


def _lzw_encode(indices: np.ndarray, min_code_size: int) -> bytes:
    clear = 1 << min_code_size
    end = clear + 1
    out = bytearray()
    acc = 0
    nbits = 0

    def emit(code: int, width: int):
        nonlocal acc, nbits
        acc |= code << nbits
        nbits += width
        while nbits >= 8:
            out.append(acc & 0xFF)
            acc >>= 8
            nbits -= 8

    width = min_code_size + 1
    table: dict[tuple[int, int], int] = {}
    nxt = end + 1
    emit(clear, width)
    it = iter(int(i) for i in indices)
    cur = next(it)
    for k in it:
        key = (cur, k)
        if key in table:
            cur = table[key]
            continue
        emit(cur, width)
        table[key] = nxt
        nxt += 1
        if nxt - 1 == (1 << width) and width < 12:
            # mirror the decoder: it bumps after ADDING the entry that
            # fills the current width (its add lags ours by one code)
            width += 1
        if nxt == _MAX_CODE:
            emit(clear, width)
            table.clear()
            width = min_code_size + 1
            nxt = end + 1
        cur = k
    emit(cur, width)
    # the decoder adds one more entry on receiving this final code
    # (unless it is the first since a clear); if that add lands the
    # table exactly on 2^width, a spec-strict decoder bumps before
    # reading END — emit END at the bumped width to match
    if nxt > end + 1 and nxt == (1 << width) and width < 12:
        width += 1
    emit(end, width)
    if nbits:
        out.append(acc & 0xFF)
    return bytes(out)


def encode_gif(arr: np.ndarray) -> bytes:
    """(3, h, w) or (h, w) values 0-255, <= 256 distinct colors ->
    single-frame GIF89a with a global color table."""
    a = np.asarray(arr)
    if a.ndim == 2:
        a = np.stack([a] * 3)
    if a.ndim != 3 or a.shape[0] != 3:
        raise ValueError(f"expected (3, h, w), got {a.shape}")
    if a.max(initial=0) > 255:
        raise ValueError("GIF encodes 8-bit samples (0-255)")
    _, h, w = a.shape
    px = a.transpose(1, 2, 0).astype(np.uint8).reshape(-1, 3)
    colors, inv = np.unique(px, axis=0, return_inverse=True)
    if len(colors) > 256:
        raise ValueError(f"{len(colors)} colors; GIF palettes cap at 256")
    # palette size = power of two >= max(2, n)
    bits = max(1, int(np.ceil(np.log2(max(len(colors), 2)))))
    pal = np.zeros((1 << bits, 3), dtype=np.uint8)
    pal[:len(colors)] = colors
    mcs = max(2, bits)
    out = bytearray(b"GIF89a")
    out += struct.pack("<HHBBB", w, h, 0x80 | ((bits - 1) & 0x07), 0, 0)
    out += pal.tobytes()
    out += b"\x2c" + struct.pack("<HHHHB", 0, 0, w, h, 0)
    out.append(mcs)
    lzw = _lzw_encode(inv.ravel(), mcs)
    for i in range(0, len(lzw), 255):
        chunk = lzw[i:i + 255]
        out.append(len(chunk))
        out += chunk
    out += b"\x00\x3b"
    return bytes(out)
