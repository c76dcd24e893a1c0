"""From-scratch RIFF/WAVE PCM writer (no libraries), plus the sample
normalization (``to_float``) and rate conversion (``resample``) helpers.

The reference engine has no audio surface at all (its formats are
GeoTIFF/NetCDF — src/utils/wd_batch.py writes tif); this kernel serves
the LLM-training-data side of the engine (SURVEY §2.12), where crawl
audio arrives as WAV payloads in a binary column.

Public format, implemented from the RIFF/WAVE layout: ``RIFF`` size
``WAVE`` header, then word-aligned chunks — ``fmt `` (format tag
1=integer PCM, 3=IEEE float) and ``data`` (interleaved frames);
odd-sized chunk payloads carry one pad byte. Everything is
little-endian.

Supported sample layouts: unsigned 8-bit (offset binary, per spec),
signed 16/24/32-bit PCM, float32/float64. 24-bit frames are
truncated to 3 bytes. The stdlib ``wave`` module is used in tests as an
independent conformance oracle — never here.
"""
from __future__ import annotations

import struct

import numpy as np

_TAG_PCM = 1
_TAG_FLOAT = 3


def write_wav(samples: np.ndarray, rate: int, bits: int | None = None) -> bytes:
    """Encode ``samples`` — shape (n,) mono or (n, channels) — to WAV
    bytes. ``bits`` defaults from the dtype (uint8→8, int16→16,
    int32→32, float32/64→IEEE float); pass ``bits=24`` with int32
    samples (values must fit in ±2^23) for 24-bit output."""
    a = np.asarray(samples)
    if a.ndim == 1:
        a = a[:, None]
    if a.ndim != 2:
        raise ValueError(f"samples must be 1-D or 2-D, got shape {a.shape}")
    n, ch = a.shape
    if ch < 1:
        # fail at the producer: a channels=0 header is invalid WAV and
        # every reader rejects it far from the bug
        raise ValueError("samples must have at least one channel")
    if a.dtype == np.uint8:
        tag, width = _TAG_PCM, 1
        payload = a.astype("<u1", copy=False).tobytes()
    elif a.dtype == np.int16:
        tag, width = _TAG_PCM, 2
        payload = a.astype("<i2", copy=False).tobytes()
    elif a.dtype == np.int32 and bits == 24:
        tag, width = _TAG_PCM, 3
        lo = np.asarray(a, dtype="<i4")
        if lo.size and (lo.max(initial=0) > 0x7FFFFF or lo.min(initial=0) < -0x800000):
            raise ValueError("bits=24 requires samples within +-2^23")
        b4 = lo.astype("<i4").view(np.uint8).reshape(n, ch, 4)
        payload = np.ascontiguousarray(b4[:, :, :3]).tobytes()
    elif a.dtype == np.int32:
        tag, width = _TAG_PCM, 4
        payload = a.astype("<i4", copy=False).tobytes()
    elif a.dtype == np.float32:
        tag, width = _TAG_FLOAT, 4
        payload = a.astype("<f4", copy=False).tobytes()
    elif a.dtype == np.float64:
        tag, width = _TAG_FLOAT, 8
        payload = a.astype("<f8", copy=False).tobytes()
    else:
        raise ValueError(f"unsupported dtype {a.dtype} (bits={bits})")
    if bits is not None and bits != width * 8:
        raise ValueError(f"bits={bits} does not match dtype {a.dtype}")

    block = ch * width
    fmt = struct.pack("<HHIIHH", tag, ch, int(rate), int(rate) * block, block, width * 8)
    chunks = b"fmt " + struct.pack("<I", len(fmt)) + fmt
    if tag == _TAG_FLOAT:
        # spec recommends a fact chunk (frame count) for non-PCM tags
        chunks += b"fact" + struct.pack("<II", 4, n)
    chunks += b"data" + struct.pack("<I", len(payload)) + payload
    if len(payload) & 1:
        chunks += b"\x00"
    return b"RIFF" + struct.pack("<I", 4 + len(chunks)) + b"WAVE" + chunks


def to_float(samples: np.ndarray, bits: int) -> np.ndarray:
    """Normalize native-domain samples to float64 in [-1, 1): offset
    binary for 8-bit, two's complement full scale for 16/24/32, floats
    pass through. The one normalization every level feature (rms, peak,
    silence ratio) is defined over, so clips compare across bit depths."""
    a = np.asarray(samples)
    if a.dtype.kind == "f":
        return a.astype(np.float64, copy=False)
    if bits == 8:
        return (a.astype(np.float64) - 128.0) / 128.0
    return a.astype(np.float64) / float(1 << (bits - 1))


def resample(samples: np.ndarray, rate_in: int, rate_out: int) -> np.ndarray:
    """Linear-interpolation resampling, per channel — the cheap
    deterministic rate normalization run before batch feature
    extraction (a real deployment swaps in a windowed-sinc kernel at
    this seam). Output length = round(n * rate_out / rate_in);
    endpoints map exactly (first sample preserved). Integer inputs
    round back to their native dtype."""
    a = np.asarray(samples)
    if a.ndim == 1:
        a = a[:, None]
    if rate_in < 1 or rate_out < 1:
        raise ValueError("rates must be >= 1")
    n, ch = a.shape
    if n == 0 or rate_in == rate_out:
        return a.copy()
    m = max(1, int(round(n * rate_out / rate_in)))
    # sample positions in input time: preserve t=0, spacing rate_in/rate_out
    pos = np.arange(m) * (rate_in / rate_out)
    pos = np.clip(pos, 0, n - 1)
    lo = np.floor(pos).astype(np.int64)
    hi = np.minimum(lo + 1, n - 1)
    frac = (pos - lo)[:, None]
    x = a.astype(np.float64)
    out = x[lo] * (1.0 - frac) + x[hi] * frac
    if a.dtype.kind in "iu":
        return np.round(out).astype(a.dtype)
    return out.astype(a.dtype)
