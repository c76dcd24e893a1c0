"""Audio payloads in an image column: sniff_format tags mp3 (through
the frame-header parser in kernels/audioprobe.py) and FLAC, and never
takes a JPEG's FF D8 sync for an mp3 frame."""

from irivermetrics_spark import codecs


# --------------------------------------------------------- constructors

def make_mp3(n_frames=10, bitrate_idx=9, sr_idx=0, mono=False,
             xing_frames=None, id3_bytes=0, crc=False):
    """CBR MPEG1 Layer-3 frames. bitrate_idx 9 = 128 kbps, sr_idx 0 =
    44100 Hz -> frame_size = 144*128000/44100 = 417."""
    b1 = 0xFA if crc else 0xFB  # sync + V1 + L3 (+CRC when bit 0 clear)
    b2 = (bitrate_idx << 4) | (sr_idx << 2)
    b3 = 0xC0 if mono else 0x00
    hdr = bytes([0xFF, b1, b2, b3])
    rate = (44100, 48000, 32000)[sr_idx]
    bitrate = (0, 32, 40, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224,
               256, 320)[bitrate_idx] * 1000
    size = 144 * bitrate // rate
    frame = bytearray(hdr) + bytes(size - 4)
    if xing_frames is not None:
        side = 17 if mono else 32
        p = 4 + (2 if crc else 0) + side
        frame[p:p + 4] = b"Xing"
        frame[p + 4:p + 8] = (1).to_bytes(4, "big")  # FRAMES flag
        frame[p + 8:p + 12] = int(xing_frames).to_bytes(4, "big")
    data = bytes(frame) * n_frames
    if id3_bytes:
        tag_size = id3_bytes - 10
        id3 = b"ID3" + bytes([4, 0, 0]) + bytes([
            (tag_size >> 21) & 0x7F, (tag_size >> 14) & 0x7F,
            (tag_size >> 7) & 0x7F, tag_size & 0x7F]) + bytes(tag_size)
        data = id3 + data
    return data


def make_flac(rate=44100, channels=2, bits=16, total=88200, id3_bytes=0):
    u = (rate << 44) | ((channels - 1) << 41) | ((bits - 1) << 36) | total
    si = bytes(10) + u.to_bytes(8, "big") + bytes(16)  # 34-byte streaminfo
    blk = bytes([0x80]) + len(si).to_bytes(3, "big") + si  # last-block flag
    data = b"fLaC" + blk + b"\x00" * 64
    if id3_bytes:
        tag_size = id3_bytes - 10
        id3 = b"ID3" + bytes([3, 0, 0]) + bytes([
            (tag_size >> 21) & 0x7F, (tag_size >> 14) & 0x7F,
            (tag_size >> 7) & 0x7F, tag_size & 0x7F]) + bytes(tag_size)
        data = id3 + data
    return data


# ------------------------------------------------------------- routing

def test_sniff_format_tags_audio():
    assert codecs.sniff_format(make_flac()) == "flac"
    assert codecs.sniff_format(make_mp3()) == "mp3"
    assert codecs.sniff_format(make_mp3(id3_bytes=64)) == "mp3"
    # jpeg's FF D8 FF E0 must NOT be taken for an mp3 sync
    assert codecs.sniff_format(b"\xff\xd8\xff\xe0" + bytes(30)) == "jpeg"
