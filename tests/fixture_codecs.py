"""Test-side encoders, readers and the PSNR gate.

Round-trip and cross-codec tests need the inverse of what the engine
ships: a BMP and an animated-WebP encoder for its decoders, a tar reader
for its tar and WebDataset writers, a WAV reader for its WAV writer, and
PSNR for its lossy paths. No declared surface of the engine uses them,
so they live here.
"""

from __future__ import annotations

import struct

import numpy as np

from irivermetrics_spark.codecs import REFLECTANCE_MAX
from irivermetrics_spark.kernels import webp as _webp
from irivermetrics_spark.kernels.tar import BLOCK
from irivermetrics_spark.kernels.wav import _TAG_FLOAT, _TAG_PCM
from irivermetrics_spark.kernels.webpanim import _chunk, iter_chunks

_TAG_EXTENSIBLE = 0xFFFE


def psnr(a: np.ndarray, b: np.ndarray, peak: float = float(REFLECTANCE_MAX)) -> float:
    """Peak signal-to-noise ratio in dB; inf when identical."""
    diff = a.astype(np.float64) - b.astype(np.float64)
    mse = float(np.mean(diff * diff))
    if mse == 0.0:
        return float("inf")
    return 10.0 * np.log10(peak * peak / mse)


def encode_bmp(arr: np.ndarray) -> bytes:
    """(3, h, w) or (1, h, w)/(h, w) values 0-255 -> 24-bit BI_RGB."""
    a = np.asarray(arr)
    if a.ndim == 2:
        a = a[None]
    if a.ndim != 3 or a.shape[0] not in (1, 3):
        raise ValueError(f"expected (1|3, h, w), got {a.shape}")
    if a.shape[0] == 1:
        a = np.repeat(a, 3, axis=0)
    if a.max(initial=0) > 255:
        raise ValueError("BMP encodes 8-bit samples (0-255)")
    _, h, w = a.shape
    bgr = a[[2, 1, 0]].transpose(1, 2, 0).astype(np.uint8)[::-1]  # bottom-up
    stride = (w * 3 + 3) & ~3
    rows = np.zeros((h, stride), dtype=np.uint8)
    rows[:, :w * 3] = bgr.reshape(h, w * 3)
    data = rows.tobytes()
    info = struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(data),
                       2835, 2835, 0, 0)
    off = 14 + 40
    head = b"BM" + struct.pack("<IHHI", off + len(data), 0, 0, off)
    return head + info + data


def _p24(v: int) -> bytes:
    if not 0 <= v < 1 << 24:
        raise ValueError(f"value {v} out of 24-bit range")
    return bytes((v & 0xFF, (v >> 8) & 0xFF, (v >> 16) & 0xFF))


def _still_vp8l_payload(frame_argb: np.ndarray, **enc_opts) -> bytes:
    """Encode (4,h,w) ARGB with the engine's VP8L encoder and return the
    bare VP8L chunk payload for embedding into an ANMF chunk."""
    still = _webp.encode_vp8l(frame_argb, **enc_opts)
    for tag, body in iter_chunks(still):
        if tag == b"VP8L":
            return body
    raise AssertionError("encoder produced no VP8L chunk")


def encode_webp_anim(
    frames,
    durations_ms,
    offsets=None,
    blend=None,
    dispose=None,
    canvas_wh: tuple[int, int] | None = None,
    loop_count: int = 0,
    bgcolor_bgra: tuple[int, int, int, int] = (0, 0, 0, 0),
    **enc_opts,
) -> bytes:
    """Assemble an animated .webp from (4,h,w) uint8 ARGB frames.

    ``offsets`` are (x, y) per frame and must be even (the container
    stores them halved); ``blend[i]`` True = alpha-blend (flag bit
    clear), ``dispose[i]`` True = dispose-to-background.  Frames are
    VP8L-encoded losslessly by the engine's own encoder, so
    decode(encode(...)) is exact.
    """
    n = len(frames)
    if len(durations_ms) != n:
        raise ValueError("durations length mismatch")
    offsets = offsets or [(0, 0)] * n
    blend = [True] * n if blend is None else list(blend)
    dispose = [False] * n if dispose is None else list(dispose)
    if canvas_wh is None:
        cw = max(off[0] + f.shape[2] for off, f in zip(offsets, frames))
        ch = max(off[1] + f.shape[1] for off, f in zip(offsets, frames))
    else:
        cw, ch = canvas_wh
    has_alpha = any((np.asarray(f)[0] != 255).any() for f in frames)
    anmfs = []
    for f, (x, y), bl, dsp, dur in zip(frames, offsets, blend, dispose, durations_ms):
        f = np.ascontiguousarray(np.asarray(f, dtype=np.uint8))
        _, fh, fw = f.shape
        if x % 2 or y % 2:
            raise ValueError("frame offsets must be even")
        if x + fw > cw or y + fh > ch:
            raise ValueError("frame exceeds canvas")
        head = (_p24(x // 2) + _p24(y // 2) + _p24(fw - 1) + _p24(fh - 1)
                + _p24(int(dur)) + bytes([(0 if bl else 2) | (1 if dsp else 0)]))
        body = head + _chunk(b"VP8L", _still_vp8l_payload(f, **enc_opts))
        anmfs.append(_chunk(b"ANMF", body))
    flags = 0x02 | (0x10 if has_alpha else 0)
    vp8x = bytes([flags, 0, 0, 0]) + _p24(cw - 1) + _p24(ch - 1)
    anim = bytes(bgcolor_bgra) + struct.pack("<H", loop_count)
    riff = b"WEBP" + _chunk(b"VP8X", vp8x) + _chunk(b"ANIM", anim) + b"".join(anmfs)
    return b"RIFF" + struct.pack("<I", len(riff)) + riff


def _field_int(raw: bytes) -> int:
    """Numeric header field: octal (possibly space/NUL padded) or GNU
    base-256 (first byte has the high bit set)."""
    if raw and raw[0] & 0x80:
        n = raw[0] & 0x7F
        for b in raw[1:]:
            n = (n << 8) | b
        return n
    s = raw.split(b"\x00", 1)[0].strip()
    return int(s, 8) if s else 0


def iter_tar(blob: bytes):
    """Yield ``(name, payload_bytes)`` for every regular file in the
    archive. Raises ValueError on structural corruption (bad checksum,
    truncated payload, runaway longname) — callers in the Spark layer
    catch and dead-letter. Directories/links are skipped; GNU 'L'
    longname records apply to the following member."""
    blob = bytes(blob)
    off = 0
    pending_name: str | None = None
    while off + BLOCK <= len(blob):
        h = blob[off:off + BLOCK]
        if h == b"\x00" * BLOCK:
            return  # end-of-archive marker
        stored = h[148:156].split(b"\x00", 1)[0].strip()
        calc = sum(h[:148]) + sum(h[156:]) + 8 * 0x20
        # historic writers summed SIGNED chars; accept both (as stdlib does)
        calc_signed = calc - 256 * sum(1 for b in h[:148] if b > 127) \
            - 256 * sum(1 for b in h[156:] if b > 127)
        try:
            ok = int(stored, 8) in (calc, calc_signed)
        except ValueError:
            ok = False
        if not ok:
            raise ValueError(f"tar header checksum mismatch at offset {off}")
        size = _field_int(h[124:136])
        if size < 0 or off + BLOCK + size > len(blob):
            raise ValueError(f"tar member at {off} truncated (size {size})")
        typeflag = h[156:157]
        data_off = off + BLOCK
        off = data_off + size + (-size % BLOCK)
        if typeflag == b"L":  # GNU longname: payload = next member's name
            if size > 1 << 16:
                raise ValueError("tar longname record too large")
            pending_name = blob[data_off:data_off + size].split(b"\x00", 1)[0] \
                .decode("utf-8", "replace")
            continue
        if typeflag == b"x":  # pax extended header: records are
            # "<len> <key>=<value>\n" where <len> counts the whole
            # record; 'path' overrides the NEXT member's name (stdlib
            # tarfile's DEFAULT format stores long names this way)
            if size > 1 << 20:
                raise ValueError("tar pax header too large")
            data = blob[data_off:data_off + size]
            j = 0
            while j < len(data):
                sp = data.find(b" ", j)
                if sp < 0:
                    break
                try:
                    rl = int(data[j:sp])
                except ValueError:
                    break
                if rl <= sp - j or j + rl > len(data):
                    break
                key, eq, value = data[sp + 1:j + rl - 1].partition(b"=")
                if eq and key == b"path":
                    pending_name = value.decode("utf-8", "replace")
                j += rl
            continue
        if typeflag not in (b"0", b"\x00"):
            pending_name = None
            continue  # dir/link/device/'g' global pax: skip payload
        if pending_name is not None:
            name = pending_name
            pending_name = None
        else:
            base = h[0:100].split(b"\x00", 1)[0].decode("utf-8", "replace")
            prefix = h[345:500].split(b"\x00", 1)[0].decode("utf-8", "replace")
            name = f"{prefix}/{base}" if prefix else base
        yield name, blob[data_off:data_off + size]
    if off < len(blob):
        raise ValueError("tar archive ends mid-header")


def read_wav(buf: bytes) -> tuple[np.ndarray, int, int]:
    """Decode WAV bytes → ``(samples, rate, bits)``. ``samples`` is
    always 2-D (frames, channels) in the native dtype: uint8 / int16 /
    int32 (24-bit sign-extended) / float32 / float64. A data chunk
    whose declared size overruns the buffer (truncated crawl payload)
    is clamped to whole frames rather than rejected."""
    b = bytes(buf)
    if len(b) < 12 or b[:4] != b"RIFF" or b[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE payload")
    pos, end = 12, len(b)
    tag = ch = rate = width_bits = None
    data = None
    while pos + 8 <= end:
        cid = b[pos:pos + 4]
        (size,) = struct.unpack_from("<I", b, pos + 4)
        body = b[pos + 8:pos + 8 + size]
        if cid == b"fmt ":
            if len(body) < 16:
                raise ValueError("fmt chunk too short")
            tag, ch, rate, _br, _ba, width_bits = struct.unpack_from("<HHIIHH", body, 0)
            if tag == _TAG_EXTENSIBLE:
                if len(body) < 26:
                    raise ValueError("extensible fmt chunk too short")
                # actual tag = first two bytes of the SubFormat GUID
                (tag,) = struct.unpack_from("<H", body, 24)
        elif cid == b"data":
            if size == 0 and pos + 8 < end:
                # unfinalized streaming-encoder file: the size field was
                # never patched. Convention (ffmpeg does the same):
                # everything to EOF is sample data. Without this the
                # walker would misread PCM bytes as chunk headers and
                # return 0 frames silently.
                data = b[pos + 8:]
                break
            data = body  # may be shorter than `size` (truncated payload)
        pos += 8 + size + (size & 1)
    if tag is None or data is None:
        raise ValueError("missing fmt or data chunk")
    if ch is None or ch < 1 or rate is None or rate < 1:
        raise ValueError(f"bad fmt fields: channels={ch} rate={rate}")
    if not width_bits or width_bits % 8:
        # 12/20-bit PCM rides a 2/4-byte container (block align tells);
        # parsing the nominal bit count as a byte width would silently
        # shred frames — reject rather than misread
        raise ValueError(f"unsupported wav sample width: {width_bits} bits")
    width = width_bits // 8
    if _ba and _ba != width * ch:
        raise ValueError(
            f"block align {_ba} inconsistent with {width_bits}-bit x {ch}ch frames")
    if tag == _TAG_PCM and width in (1, 2, 3, 4):
        dt = {1: "<u1", 2: "<i2", 4: "<i4"}.get(width)
    elif tag == _TAG_FLOAT and width in (4, 8):
        dt = {4: "<f4", 8: "<f8"}[width]
    else:
        raise ValueError(f"unsupported wav format tag={tag} bits={width_bits}")
    frame_bytes = width * ch
    n = len(data) // frame_bytes  # clamp to whole frames
    data = data[:n * frame_bytes]
    if width == 3:
        raw = np.frombuffer(data, dtype=np.uint8).reshape(n * ch, 3)
        out = (raw[:, 0].astype(np.int32)
               | (raw[:, 1].astype(np.int32) << 8)
               | (raw[:, 2].astype(np.int8).astype(np.int32) << 16))
        return out.reshape(n, ch), int(rate), 24
    out = np.frombuffer(data, dtype=dt).reshape(n, ch)
    return out, int(rate), width * 8
