"""RIFF/WAVE kernel (kernels/wav.py): writer round-trips for every
sample layout through the test-side reader, cross-validation against
the stdlib ``wave`` module (an independent implementation of the same
public format), the reader's chunk-walking edge cases, writer input
checks, float normalization and resampling."""
import io
import struct
import wave as stdlib_wave

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from irivermetrics_spark.kernels import wav

from fixture_codecs import read_wav


def _rt(samples, rate, bits=None):
    buf = wav.write_wav(samples, rate, bits=bits)
    got, r, b = read_wav(buf)
    return buf, got, r, b


def test_roundtrip_u8_mono():
    a = np.arange(256, dtype=np.uint8)
    _, got, r, b = _rt(a, 8000)
    assert r == 8000 and b == 8
    assert np.array_equal(got[:, 0], a)


def test_roundtrip_i16_stereo():
    rng = np.random.default_rng(0)
    a = rng.integers(-32768, 32768, (500, 2)).astype(np.int16)
    _, got, r, b = _rt(a, 44100)
    assert r == 44100 and b == 16 and got.dtype == np.int16
    assert np.array_equal(got, a)


def test_roundtrip_i24():
    rng = np.random.default_rng(1)
    a = rng.integers(-(1 << 23), 1 << 23, (333, 2)).astype(np.int32)
    buf, got, r, b = _rt(a, 48000, bits=24)
    assert b == 24 and got.dtype == np.int32
    assert np.array_equal(got, a)
    # 3 bytes per sample on the wire
    assert buf.count(b"data") >= 1
    i = buf.rindex(b"data")
    (size,) = struct.unpack_from("<I", buf, i + 4)
    assert size == 333 * 2 * 3


def test_roundtrip_i32_and_floats():
    rng = np.random.default_rng(2)
    a = rng.integers(-(1 << 31), (1 << 31) - 1, (100, 1)).astype(np.int32)
    _, got, _, b = _rt(a, 16000)
    assert b == 32 and np.array_equal(got, a)
    f = rng.normal(size=(64, 2)).astype(np.float32)
    _, got, _, b = _rt(f, 16000)
    assert b == 32 and got.dtype == np.float32 and np.array_equal(got, f)
    d = rng.normal(size=(64,)).astype(np.float64)
    _, got, _, b = _rt(d, 16000)
    assert b == 64 and got.dtype == np.float64 and np.array_equal(got[:, 0], d)


def test_stdlib_wave_reads_our_output():
    """The stdlib wave module (independent reference implementation)
    must accept and bit-agree with our encoder for its PCM widths."""
    rng = np.random.default_rng(3)
    for dtype, width in ((np.uint8, 1), (np.int16, 2), (np.int32, 4)):
        if dtype == np.uint8:
            a = rng.integers(0, 256, (211, 2)).astype(dtype)
        else:
            info = np.iinfo(dtype)
            a = rng.integers(info.min, info.max, (211, 2)).astype(dtype)
        buf = wav.write_wav(a, 22050)
        with stdlib_wave.open(io.BytesIO(buf)) as w:
            assert w.getnchannels() == 2
            assert w.getframerate() == 22050
            assert w.getsampwidth() == width
            assert w.getnframes() == 211
            raw = w.readframes(211)
        assert raw == a.astype(a.dtype.newbyteorder("<")).tobytes()


def test_we_read_stdlib_wave_output():
    rng = np.random.default_rng(4)
    a = rng.integers(-32768, 32768, (377, 2)).astype("<i2")
    bio = io.BytesIO()
    with stdlib_wave.open(bio, "wb") as w:
        w.setnchannels(2)
        w.setsampwidth(2)
        w.setframerate(8000)
        w.writeframes(a.tobytes())
    got, rate, bits = read_wav(bio.getvalue())
    assert rate == 8000 and bits == 16
    assert np.array_equal(got, a)


def test_extensible_fmt_and_unknown_chunks():
    """WAVE_FORMAT_EXTENSIBLE payloads and LIST/junk chunks ahead of
    data must parse: real crawl files carry both."""
    a = np.arange(-50, 50, dtype=np.int16)
    plain = wav.write_wav(a, 12000)
    i = plain.index(b"fmt ")
    fmt_body = plain[i + 8:i + 8 + 16]
    # rebuild as extensible: tag 0xFFFE + cbSize 22 + valid bits +
    # channel mask + GUID whose first two bytes are the PCM tag
    ext = (struct.pack("<H", 0xFFFE) + fmt_body[2:16]
           + struct.pack("<HHI", 22, 16, 0x4)
           + struct.pack("<H", 1) + b"\x00\x00" + b"\x10\x00\x80\x00\x00\xaa\x00\x38\x9b\x71")
    data_i = plain.index(b"data")
    data_chunk = plain[data_i:]
    junk = b"LIST" + struct.pack("<I", 5) + b"INFOx" + b"\x00"  # odd size: padded
    chunks = b"fmt " + struct.pack("<I", len(ext)) + ext + junk + data_chunk
    buf = b"RIFF" + struct.pack("<I", 4 + len(chunks)) + b"WAVE" + chunks
    got, rate, bits = read_wav(buf)
    assert rate == 12000 and bits == 16
    assert np.array_equal(got[:, 0], a)


def test_truncated_data_clamps_to_whole_frames():
    a = np.arange(100, dtype=np.int16).reshape(50, 2)
    buf = wav.write_wav(a, 8000)
    got, _, _ = read_wav(buf[:-5])  # cuts mid-frame
    assert got.shape[1] == 2
    assert 0 < got.shape[0] < 50
    assert np.array_equal(got, a[:got.shape[0]])


def test_rejects_garbage():
    for bad in (b"", b"RIFFxxxx", b"RIFF\x00\x00\x00\x00WEBP",
                b"RIFF\x10\x00\x00\x00WAVEdata\x04\x00\x00\x00abcd"):
        with pytest.raises(ValueError):
            read_wav(bad)
    with pytest.raises(ValueError):
        wav.write_wav(np.zeros((4, 2, 2)), 8000)
    with pytest.raises(ValueError):
        wav.write_wav(np.array([1 << 24], dtype=np.int32), 8000, bits=24)


def test_to_float_domains():
    assert wav.to_float(np.array([[0], [128], [255]], dtype=np.uint8), 8)[1, 0] == 0.0
    assert wav.to_float(np.array([[-32768]], dtype=np.int16), 16)[0, 0] == -1.0
    assert wav.to_float(np.array([[1 << 23]], dtype=np.int32), 24)[0, 0] == 1.0
    f = np.array([[0.25]], dtype=np.float32)
    assert wav.to_float(f, 32)[0, 0] == 0.25


@settings(max_examples=40, deadline=None)
@given(
    n=st.integers(1, 300),
    ch=st.integers(1, 3),
    rate=st.sampled_from([8000, 16000, 44100]),
    kind=st.sampled_from(["u8", "i16", "i24", "i32", "f32"]),
    seed=st.integers(0, 2**31 - 1),
)
def test_property_roundtrip(n, ch, rate, kind, seed):
    rng = np.random.default_rng(seed)
    bits = None
    if kind == "u8":
        a = rng.integers(0, 256, (n, ch)).astype(np.uint8)
    elif kind == "i16":
        a = rng.integers(-32768, 32768, (n, ch)).astype(np.int16)
    elif kind == "i24":
        a = rng.integers(-(1 << 23), 1 << 23, (n, ch)).astype(np.int32)
        bits = 24
    elif kind == "i32":
        a = rng.integers(-(1 << 31), (1 << 31) - 1, (n, ch)).astype(np.int32)
    else:
        a = rng.normal(size=(n, ch)).astype(np.float32)
    got, r, _ = read_wav(wav.write_wav(a, rate, bits=bits))
    assert r == rate
    assert np.array_equal(got, a)


def test_sniff_format_tags_wav():
    from irivermetrics_spark import codecs

    buf = wav.write_wav(np.zeros(4, dtype=np.int16), 8000)
    assert codecs.sniff_format(buf) == "wav"
    assert codecs.sniff_format(buf) not in codecs.DECODABLE_DETAILS


def test_rejects_sub_byte_and_inconsistent_widths():
    """12/20-bit PCM rides a 2/4-byte container — parsing the nominal
    bit count as a byte width shreds frames, so the codec must refuse
    (review find: a crafted 12-bit file decoded as uint8 garbage)."""
    base = wav.write_wav(np.arange(8, dtype=np.int16), 8000)
    i = base.index(b"fmt ")
    # patch wBitsPerSample (offset 22 into fmt body at i+8) to 12
    twelve = bytearray(base)
    struct.pack_into("<H", twelve, i + 8 + 14, 12)
    with pytest.raises(ValueError, match="12 bits"):
        read_wav(bytes(twelve))
    # patch block align (offset 12) to disagree with 16-bit mono
    skewed = bytearray(base)
    struct.pack_into("<H", skewed, i + 8 + 12, 3)
    with pytest.raises(ValueError, match="block align"):
        read_wav(bytes(skewed))


def test_zero_size_data_chunk_reads_to_eof():
    """Unfinalized streaming-encoder files leave the data size field 0
    with PCM following — read to EOF instead of returning 0 frames
    (review find: the walker misread PCM bytes as chunk headers)."""
    a = np.arange(-40, 40, dtype=np.int16)
    buf = bytearray(wav.write_wav(a, 8000))
    i = buf.rindex(b"data")
    struct.pack_into("<I", buf, i + 4, 0)
    got, rate, bits = read_wav(bytes(buf))
    assert rate == 8000 and bits == 16
    assert np.array_equal(got[:, 0], a)
    # a legitimately empty data chunk at EOF still decodes as 0 frames
    empty = wav.write_wav(np.zeros((0, 1), dtype=np.int16), 8000)
    got2, _, _ = read_wav(empty)
    assert got2.shape == (0, 1)


def test_write_rejects_zero_channels():
    with pytest.raises(ValueError, match="channel"):
        wav.write_wav(np.zeros((100, 0), dtype=np.int16), 8000)


def test_resample_identity_and_endpoints():
    a = np.arange(100, dtype=np.int16)
    same = wav.resample(a, 8000, 8000)
    assert np.array_equal(same[:, 0], a)
    up = wav.resample(a, 8000, 16000)
    assert up.shape[0] == 200 and up[0, 0] == a[0]
    # linear ramp resamples to a linear ramp (interp is exact on lines;
    # float input — int16 output rounds the half steps)
    upf = wav.resample(a.astype(np.float64), 8000, 16000)
    assert np.allclose(np.diff(upf[:, 0])[:-1], 0.5)
    down = wav.resample(a, 8000, 4000)
    assert down.shape[0] == 50
    assert np.array_equal(down[:, 0], a[::2])


def test_resample_preserves_tone_frequency():
    rate_in, rate_out, f0 = 16000, 44100, 440
    t = np.arange(16000) / rate_in
    x = (10000 * np.sin(2 * np.pi * f0 * t)).astype(np.int16)
    y = wav.resample(x, rate_in, rate_out)[:, 0].astype(np.float64)
    spec = np.abs(np.fft.rfft(y))
    freqs = np.fft.rfftfreq(y.size, d=1.0 / rate_out)
    assert abs(freqs[int(np.argmax(spec))] - f0) < 2.0
    with pytest.raises(ValueError):
        wav.resample(x, 0, 8000)


