"""MPEG audio frame-header parser, used by ``codecs.sniff_format`` to
tell an mp3 payload (no ID3 tag) from an image whose bytes happen to
start with an 0xFF sync byte: a JPEG's ``FF D8 FF E0`` must not be
taken for an mp3 frame.

Layout from ISO/IEC 11172-3 / 13818-3 (MPEG-1/2/2.5, layers I-III).
"""

from __future__ import annotations

# bitrate tables in kbps, index 1..14 (0 = free, 15 = bad)
_BR_V1_L1 = (0, 32, 64, 96, 128, 160, 192, 224, 256, 288, 320, 352, 384, 416, 448)
_BR_V1_L2 = (0, 32, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224, 256, 320, 384)
_BR_V1_L3 = (0, 32, 40, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224, 256, 320)
_BR_V2_L1 = (0, 32, 48, 56, 64, 80, 96, 112, 128, 144, 160, 176, 192, 224, 256)
_BR_V2_L23 = (0, 8, 16, 24, 32, 40, 48, 56, 64, 80, 96, 112, 128, 144, 160)

_SR_V1 = (44100, 48000, 32000)
_SR_V2 = (22050, 24000, 16000)
_SR_V25 = (11025, 12000, 8000)


def _parse_mp3_header(b: bytes, i: int) -> dict | None:
    """Parse the 4-byte frame header at offset i; None if invalid."""
    if i + 4 > len(b) or b[i] != 0xFF or (b[i + 1] & 0xE0) != 0xE0:
        return None
    ver_bits = (b[i + 1] >> 3) & 3       # 0=2.5, 1=reserved, 2=V2, 3=V1
    layer_bits = (b[i + 1] >> 1) & 3     # 0=reserved, 1=L3, 2=L2, 3=L1
    crc = (b[i + 1] & 1) == 0            # protection bit 0 = CRC present
    br_idx = (b[i + 2] >> 4) & 15
    sr_idx = (b[i + 2] >> 2) & 3
    pad = (b[i + 2] >> 1) & 1
    mode = (b[i + 3] >> 6) & 3
    if ver_bits == 1 or layer_bits == 0 or br_idx == 15 or sr_idx == 3:
        return None
    v1 = ver_bits == 3
    rate = (_SR_V1 if v1 else _SR_V2 if ver_bits == 2 else _SR_V25)[sr_idx]
    layer = 4 - layer_bits               # 1, 2 or 3
    if layer == 1:
        br_tab = _BR_V1_L1 if v1 else _BR_V2_L1
        spf = 384
    elif layer == 2:
        br_tab = _BR_V1_L2 if v1 else _BR_V2_L23
        spf = 1152
    else:
        br_tab = _BR_V1_L3 if v1 else _BR_V2_L23
        spf = 1152 if v1 else 576
    bitrate = br_tab[br_idx] * 1000      # 0 = free-format (unsizable)
    if bitrate:
        if layer == 1:
            frame_size = (12 * bitrate // rate + pad) * 4
        else:
            frame_size = spf // 8 * bitrate // rate + pad
    else:
        frame_size = 0
    side = (17 if mode == 3 else 32) if v1 else (9 if mode == 3 else 17)
    return dict(rate=rate, channels=1 if mode == 3 else 2, spf=spf,
                bitrate=bitrate, frame_size=frame_size, crc=crc, side=side)
